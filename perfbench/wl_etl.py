"""etl_daily: the paper's daily pipeline, one day per operation.

The seeded channel history's first ``history_days`` are replayed in
plain Python (:class:`EtlModel`) and loaded through the program's
``TableStore.overwrite`` as the live tables; the measured days follow,
each one ``PastaPipeline.run_batch(mode="incremental")`` with the
reference caps and a ``make_fixture_transport`` fetcher, and every 7th
day also ``run_maintenance`` (timed on the live tables and on copies of
the same state). The same model, carried on over the
measured days, is the output check."""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import time
from datetime import datetime, timedelta

import gen
from common import CONFIG, dir_bytes, fresh_dir, median, settle, tail
from tracing import op_metric

LINK_RE = re.compile(r"https://telegra\.ph/[^\s\n\])>_*}]+")
TAG_RE = re.compile(r"#([a-zA-Zа-яА-Я0-9_]+)")
FAILED = ("error", "timeout", "client_error", "server_error")
STATUS = {"success": "success", "not_found": "not_found", "server_error": "server_error",
          "timeout": "timeout", "too_large": "content_too_large"}
RAW_SCHEMA = "message_id long, date timestamp, text string, views int, forwards int"
MAINTENANCE_SAMPLES = 3  # a run's days reach one weekly maintenance; one timing of it is too noisy


def first_link(text: str) -> str | None:
    for m in LINK_RE.findall(text or ""):
        link = re.sub(r"[.,\"'*_]+$", "", m).strip()
        if link:
            return link
    return None


class EtlModel:
    """Plain-Python replay of the pipeline's table semantics: last
    writer wins per message, one content row per selected link,
    ``retry_count`` per failing fetch, the weekly cleanup steps."""

    def __init__(self, log: dict):
        self.log = log
        self.cfg = CONFIG["etl"]
        self.messages: dict[int, dict] = {}
        self.content: dict[str, dict] = {}

    def day(self, d: int) -> dict:
        for r in self.log["feed"][d]:
            self.messages[r["message_id"]] = {
                "date": datetime.strptime(r["date"], "%Y-%m-%d %H:%M:%S"), "text": r["text"],
                "views": r["views"], "forwards": r["forwards"], "link": first_link(r["text"]),
                "processed": d,
            }
        done = {u for u, c in self.content.items() if c["status"] == "success"}
        links = {m["link"] for m in self.messages.values() if m["link"]}
        todo = sorted(links - done)[: self.cfg["max_links"]]
        counts: dict[str, int] = {}
        for u in todo:
            kind = self.log["outcome"][u]
            status = STATUS[kind]
            counts[status] = counts.get(status, 0) + 1
            if status == "success":
                body = self.log["body"][u]
                self.content[u] = {"status": "success", "retry": 0, "processed": d, "checked": d,
                                   "hash": hashlib.md5(body.encode()).hexdigest()}
            else:
                old = self.content.get(u)
                self.content[u] = {"status": status, "retry": (old["retry"] if old else 0) + 1,
                                   "processed": old["processed"] if old else None,
                                   "checked": d, "hash": old["hash"] if old else None}
        # rows the day changed: upserted messages plus touched content rows
        changed = len(self.log["feed"][d]) + len(todo)
        return {"fetch": counts, "changed": changed}

    def maintenance(self, d: int) -> dict:
        now = gen.run_ts(d)
        keep_days = timedelta(days=self.cfg["retention_days"])
        groups: dict[str, list[str]] = {}
        for u, c in self.content.items():
            if c["hash"]:
                groups.setdefault(c["hash"], []).append(u)
        dup = 0
        for us in groups.values():
            keep = min(us, key=lambda u: (self.content[u]["processed"], u))
            for u in us:
                if u != keep:
                    del self.content[u]
                    dup += 1
        failed = [u for u, c in self.content.items()
                  if c["status"] in FAILED and c["retry"] >= 3
                  and gen.run_ts(c["checked"]) < now - timedelta(days=7)]
        for u in failed:
            del self.content[u]
        old_content = [u for u, c in self.content.items()
                       if c["processed"] is not None and c["status"] != "success"
                       and gen.run_ts(c["processed"]) < now - keep_days]
        for u in old_content:
            del self.content[u]
        old_msgs = [i for i, m in self.messages.items() if m["date"] < now - keep_days]
        for i in old_msgs:
            del self.messages[i]
        cleaned = 0
        for m in self.messages.values():
            if m["link"] and m["link"] not in self.content:
                m["link"] = None
                cleaned += 1
        return {"deleted_messages": 0, "deleted_content": dup, "cleaned_links": cleaned,
                "deleted_failed": len(failed), "deleted_old_messages": len(old_msgs),
                "deleted_old_content": len(old_content)}

    def message_rows(self) -> list[tuple]:
        out = []
        for i, m in sorted(self.messages.items()):
            tags = list(dict.fromkeys(t.lower() for t in TAG_RE.findall(m["text"])))
            ts = gen.run_ts(m["processed"])
            out.append((i, m["date"], m["text"], m["views"], m["forwards"], tags, m["link"],
                        None, ts, ts))
        return out

    def content_rows(self) -> list[tuple]:
        out = []
        for u, c in sorted(self.content.items()):
            checked = gen.run_ts(c["checked"])
            if c["status"] == "success":
                body = self.log["body"][u]
                title = re.search(r"<h1>(.*?)</h1>", body).group(1)
                desc = re.search(r'content="(about [^"]*)"', body).group(1)
                pub = datetime.strptime(re.search(r'published_time" content="([0-9-]+)T', body)
                                        .group(1), "%Y-%m-%d") + timedelta(hours=8)
                out.append((u, title, body, desc, c["hash"], hashlib.md5(desc.encode()).hexdigest(),
                            pub, len(body.split()), "success", 0, gen.run_ts(c["processed"]),
                            checked))
            else:
                out.append((u, None, None, None, None, None, None, None, c["status"], c["retry"],
                            None if c["processed"] is None else gen.run_ts(c["processed"]),
                            checked))
        return out


class EtlDaily:
    name = "etl_daily"
    census_prefix = "etl"

    def prepare(self, ctx) -> dict:
        self.cfg = CONFIG["etl"]
        self.history = self.cfg["history_days"]
        self.inputs = os.path.join(ctx.work, "inputs")
        self.log = gen.gen_etl(ctx.seed, self.inputs)
        self.seed_model = EtlModel(self.log)
        for d in range(self.history):
            self.seed_model.day(d)
            if (d + 1) % self.cfg["maintenance_every"] == 0:
                self.seed_model.maintenance(d)
        self.warm_inputs = os.path.join(ctx.work, "warm_inputs")
        gen.gen_etl(ctx.seed + 1000, self.warm_inputs, days=self.cfg["warmup_days"],
                    messages_per_day=self.cfg["warmup_messages"])
        return dict(self.log["summary"], history_days=self.history)

    def _pipeline(self, ctx, tables: str, inputs: str):
        from pasta_pipeline_spark.plans.pipeline import PastaPipeline
        from pasta_pipeline_spark.sources.fetch import make_fixture_transport

        return (PastaPipeline(ctx.spark, fresh_dir(tables)),
                make_fixture_transport(gen.load_responses(inputs)))

    def _day(self, ctx, pipe, transport, inputs: str, d: int) -> dict:
        from pyspark.sql import functions as F

        raw = ctx.spark.read.schema(RAW_SCHEMA).json(os.path.join(inputs, "raw", f"day-{d:03d}.json"))
        return pipe.run_batch(raw, transport, run_ts=F.lit(gen.run_ts(d)), mode="incremental",
                              lookback_days=self.cfg["lookback_days"],
                              max_links=self.cfg["max_links"],
                              max_messages=self.cfg["max_messages"], rate_limit_delay=0.0)

    def _maintenance(self, pipe, d: int) -> dict:
        from pyspark.sql import functions as F

        return pipe.run_maintenance(retention_days=self.cfg["retention_days"],
                                    run_ts=F.lit(gen.run_ts(d)))

    def warmup(self, ctx) -> None:
        """Days of a tiny channel, with maintenance after the first:
        the session's first jobs, the Python workers and both code
        paths start here. A day's cost is mostly per-job driver work,
        which the JIT keeps speeding up over the first days whatever
        their size, so one warm-up day is not enough."""
        pipe, transport = self._pipeline(ctx, os.path.join(ctx.work, "warm_tables"), self.warm_inputs)
        for d in range(self.cfg["warmup_days"]):
            self._day(ctx, pipe, transport, self.warm_inputs, d)
            if d == 0:
                self._maintenance(pipe, 0)

    def reset(self, ctx) -> None:
        """Fresh live tables holding the replayed history."""
        from pasta_pipeline_spark.schemas import CONTENT_SCHEMA, MESSAGE_SCHEMA

        self.tables = os.path.join(ctx.work, "tables")
        self.pipe, self.transport = self._pipeline(ctx, self.tables, self.inputs)
        self.pipe.messages.overwrite(
            ctx.spark.createDataFrame(self.seed_model.message_rows(), MESSAGE_SCHEMA))
        self.pipe.content.overwrite(
            ctx.spark.createDataFrame(self.seed_model.content_rows(), CONTENT_SCHEMA))

    def measure(self, ctx, seconds: float, plan: list | None = None) -> dict:
        """Days from the end of the history until ``seconds`` have
        passed and at least ``min_days`` ran (or exactly the ops of
        ``plan``); a fixed floor keeps a slow run from reporting a
        smaller, differently-composed sample."""
        ops = []
        start = time.perf_counter()
        d = self.history
        while (plan is None and (d - self.history < self.cfg["min_days"]
                                 or time.perf_counter() - start < seconds)) or (
                plan is not None and len(ops) < len(plan)):
            settle(ctx.spark)
            t0 = time.perf_counter()
            report = self._day(ctx, self.pipe, self.transport, self.inputs, d)
            ops.append({"op": f"day-{d}", "kind": "day", "day": d, "s": time.perf_counter() - t0,
                        "report": report})
            if (d + 1) % self.cfg["maintenance_every"] == 0 and (plan is None or len(ops) < len(plan)):
                ops += self._maintenance_samples(ctx, d)
            d += 1
        return {"ops": ops, "store": dir_bytes(self.tables)}

    def _maintenance_samples(self, ctx, d: int) -> list:
        """``run_maintenance`` on the live tables and on copies of the
        same state taken just before it, each timed: a run takes several
        samples of the weekly job instead of one."""
        from pasta_pipeline_spark.plans.pipeline import PastaPipeline

        pipes = [self.pipe]
        for i in range(1, MAINTENANCE_SAMPLES):
            copy = os.path.join(ctx.work, f"tables-copy{i}")
            shutil.rmtree(copy, ignore_errors=True)
            shutil.copytree(self.tables, copy)
            pipes.append(PastaPipeline(ctx.spark, copy))
        ops = []
        for i, pipe in enumerate(pipes):
            settle(ctx.spark)
            t0 = time.perf_counter()
            stats = self._maintenance(pipe, d)
            ops.append({"op": f"maintenance-{d}" + (f"-copy{i}" if i else ""), "kind": "maintenance",
                        "day": d, "s": time.perf_counter() - t0, "report": stats})
        return ops

    def check(self, ctx, p: dict) -> None:
        """Marks each op ok/failed against the Python model, then the
        final tables against the model's end state."""
        model = EtlModel(self.log)
        model.messages = {k: dict(v) for k, v in self.seed_model.messages.items()}
        model.content = {k: dict(v) for k, v in self.seed_model.content.items()}
        self.changed = 0
        maint = {}  # every sample of a day's maintenance must match the model's one run
        for o in p["ops"]:
            if o["kind"] == "day":
                exp = model.day(o["day"])
                self.changed += exp["changed"]
                o["ok"] = o["report"]["fetch"] == exp["fetch"]
                o["detail"] = None if o["ok"] else f"fetch {o['report']['fetch']} != {exp['fetch']}"
            else:
                if o["day"] not in maint:
                    maint[o["day"]] = model.maintenance(o["day"])
                exp = maint[o["day"]]
                got = {k: o["report"].get(k) for k in exp}
                o["ok"] = got == exp
                o["detail"] = None if o["ok"] else f"stats {got} != {exp}"
        msgs = {r["message_id"]: (r["views"], r["telegraph_link"])
                for r in self.pipe.messages.read().select("message_id", "views", "telegraph_link").collect()}
        content = {r["url"]: (r["status"], r["retry_count"], r["content_hash"] or None)
                   for r in self.pipe.content.read().select(
                       "url", "status", "retry_count", "content_hash").collect()}
        want_m = {i: (m["views"], m["link"]) for i, m in model.messages.items()}
        want_c = {u: (c["status"], c["retry"], c["hash"]) for u, c in model.content.items()}
        final_ok = msgs == want_m and content == want_c
        if not final_ok and p["ops"]:
            last = p["ops"][-1]
            bad_m = sorted(k for k in set(msgs) | set(want_m) if msgs.get(k) != want_m.get(k))[:3]
            bad_c = sorted(k for k in set(content) | set(want_c) if content.get(k) != want_c.get(k))[:3]
            last["ok"] = False
            last["detail"] = (f"final tables differ: messages {[(k, msgs.get(k), want_m.get(k)) for k in bad_m]}"
                              f" content {[(k, content.get(k), want_c.get(k)) for k in bad_c]}")

    def e2e(self, p: dict) -> dict:
        days = [o["s"] for o in p["ops"] if o["kind"] == "day"]
        maint = [o["s"] for o in p["ops"] if o["kind"] == "maintenance"]
        t, pct, n = tail(days)
        return {
            "etl.day_s.p50": (median(days), "s", len(days)),
            "etl.day_s.tail": (t, "s", n, f"p{pct}"),
            "etl.maintenance_s": (median(maint), "s", len(maint)),
            "etl.store_mb": (p["store"][0] / 2**20, "MiB", 1),
        }

    # -- traced run ----------------------------------------------------

    def instrument(self, tracer) -> None:
        from pasta_pipeline_spark.functions import html
        from pasta_pipeline_spark.operators import antijoin, maintenance, merge, stats
        from pasta_pipeline_spark.plans import pipeline
        from pasta_pipeline_spark.sources import fetch, tables

        for m, a, layer in [
            (merge, "merge_upsert", "operators.merge"), (merge, "upsert_accumulate", "operators.merge"),
            (antijoin, "select_unprocessed_links", "operators.antijoin"),
            (antijoin, "null_out_orphans", "operators.antijoin"),
            (stats, "message_stats", "operators.stats"), (stats, "content_stats", "operators.stats"),
            (maintenance, "run_full_cleanup", "operators.maintenance"),
            (fetch, "fetch_links", "sources.fetch"), (html, "with_html_fields", "functions"),
        ]:
            tracer.wrap(m, a, layer)
        for a in ("read", "overwrite"):
            tracer.wrap_method(tables.TableStore, a, "sources.tables")
        for a in ("run_batch", "run_maintenance"):
            tracer.wrap_method(pipeline.PastaPipeline, a, "plans.pipeline")
        # count fetch attempts where they happen, in the Python workers
        self.attempt_acc = acc = tracer.sc.accumulator(0)
        base = self.transport

        def counting_transport(url, _base=base, _acc=acc):
            _acc.add(1)
            return _base(url)

        self.transport = counting_transport

    def layers(self, p: dict, tracer) -> dict:
        ops = [o for sp in tracer.spans for o in (sp.ops or [])]
        selft = tracer.self_times()
        links = sum(sum(o["report"]["fetch"].values()) for o in p["ops"] if o["kind"] == "day")
        write = "Execute InsertIntoHadoopFsRelationCommand"  # every write here is a table write
        rows_written = op_metric(ops, write, "number of output rows")

        def span_s(prefix):
            return sum(s.end - s.start for s in tracer.by_name(prefix))

        return {
            "etl.read_s": span_s("sources.tables.read") + op_metric(ops, "Scan parquet", "scan time"),
            "etl.write_s": selft.get("sources.tables", 0.0) - span_s("sources.tables.read"),
            "etl.bytes_written": op_metric(ops, write, "written output"),
            "etl.files_written": op_metric(ops, write, "number of written files"),
            "etl.rewrite_share": self.changed / rows_written if rows_written else 0.0,
            "etl.fetch_s": op_metric(ops, "MapInPandas", "time to run Python workers"),
            "etl.fetch_attempts_per_link": self.attempt_acc.value / links if links else 0.0,
            "etl.parse_s": op_metric(ops, "ArrowEvalPython", "time to run Python workers"),
            "etl.merge_s": selft.get("operators.merge", 0.0),
            "etl.select_s": selft.get("operators.antijoin", 0.0),
            "etl.stats_s": selft.get("operators.stats", 0.0),
            "etl.maint_s": selft.get("operators.maintenance", 0.0),
        }
