"""stream_ingest: open-loop file ingest into two streaming queries.

A generator thread drops seeded message and document files into two
source directories on a fixed schedule (one file of each every
``file_interval_s``), whatever the system's speed; each row carries its
creation time. ``foreach_batch_merge_partitioned`` upserts the messages
into a partitioned ``TableStore`` and ``incremental_lsh_dedup`` folds
the documents into the near-dup index. One file is delivered twice on
purpose. A file's latency runs from its due time to the commit of the
micro-batch that read it (the checkpoint's commit marker)."""

from __future__ import annotations

import json
import math
import os
import threading
import time

import gen
from common import CONFIG, dir_bytes, fresh_dir, median, tail

MSG_SCHEMA = "id long, part int, seq long, payload string, created double"
DOC_SCHEMA = "doc_id long, text string, created double"


class StreamIngest:
    name = "stream_ingest"
    census_prefix = "stream"

    def prepare(self, ctx) -> dict:
        self.cfg = CONFIG["stream"]
        self.n_files = max(2, math.ceil(ctx.seconds / self.cfg["file_interval_s"]))
        self.log = gen.gen_stream(ctx.seed, self.n_files)
        self.warm_log = gen.gen_stream(ctx.seed + 1000, 2)
        self.warm_log["schedule"] = [0, 1]
        return dict(self.log["summary"], file_interval_s=self.cfg["file_interval_s"],
                    latency_limit_s=self.cfg["latency_limit_s"])

    # -- one streaming run ---------------------------------------------------

    def _dirs(self, base: str) -> dict:
        fresh_dir(base)
        names = ("src_msgs", "src_docs", "stage", "ck_msgs", "ck_docs", "store", "index", "pairs")
        out = {n: os.path.join(base, n) for n in names}
        for n in ("src_msgs", "src_docs", "stage"):
            os.makedirs(out[n])
        return out

    def _start(self, ctx, d: dict, available_now: bool):
        from pasta_pipeline_spark.sources.tables import TableStore
        from pasta_pipeline_spark.streaming.dedup import incremental_lsh_dedup
        from pasta_pipeline_spark.streaming.sink import foreach_batch_merge_partitioned

        spark = ctx.spark
        self.store = TableStore(spark, d["store"])
        self.index = TableStore(spark, d["index"])
        q_msgs = foreach_batch_merge_partitioned(
            spark.readStream.schema(MSG_SCHEMA).json(d["src_msgs"]), self.store, key="id",
            partition_col="part", order_col="seq", checkpoint_dir=d["ck_msgs"],
            trigger_once=available_now)
        q_docs = incremental_lsh_dedup(
            spark.readStream.schema(DOC_SCHEMA).json(d["src_docs"]), self.index, d["pairs"],
            checkpoint_dir=d["ck_docs"], trigger_once=available_now)
        return q_msgs, q_docs

    @staticmethod
    def _deliver(d: dict, log: dict, k: int, idx: int, created: float) -> None:
        """Write delivery ``k`` (file ``idx`` of the log) atomically."""
        f = log["files"][idx]
        for kind, rows in (("msgs", f["msgs"]), ("docs", f["docs"])):
            tmp = os.path.join(d["stage"], f"{kind}-{k:05d}.json")
            with open(tmp, "w", encoding="utf-8") as out:
                for r in rows:
                    out.write(json.dumps(dict(r, created=created)) + "\n")
            os.rename(tmp, os.path.join(d[f"src_{kind}"], f"f-{k:05d}.json"))

    def warmup(self, ctx) -> None:
        d = self._dirs(os.path.join(ctx.work, "warm"))
        for k, idx in enumerate(self.warm_log["schedule"]):
            self._deliver(d, self.warm_log, k, idx, time.time())
        for q in self._start(ctx, d, available_now=True):
            q.awaitTermination(120)

    def reset(self, ctx) -> None:
        self.dirs = self._dirs(os.path.join(ctx.work, "run"))

    def measure(self, ctx, seconds: float, plan: list | None = None) -> dict:
        d = self.dirs
        interval = self.cfg["file_interval_s"]
        queries = self._start(ctx, d, available_now=False)
        self.run_ids = [str(q.runId) for q in queries]
        offered, lag = [], []
        t0 = time.time() + 0.5

        def generate():  # open loop: the schedule never waits for the system
            for k, idx in enumerate(self.log["schedule"]):
                due = t0 + k * interval
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                lag.append(time.time() - due)
                self._deliver(d, self.log, k, idx, due)
                offered.append({"k": k, "file": idx, "due": due})

        gen_thread = threading.Thread(target=generate, daemon=True)
        gen_thread.start()
        gen_thread.join()
        drain0 = time.time()
        for q in queries:
            q.processAllAvailable()
        drain = time.time() - drain0
        progress = [[p for p in q.recentProgress] for q in queries]
        for q in queries:
            q.stop()
        ops = []
        for o in offered:
            done = [self._commit_time(d[ck], f"f-{o['k']:05d}.json") for ck in ("ck_msgs", "ck_docs")]
            latency = max(done) - o["due"] if None not in done else None
            ops.append({"op": f"delivery-{o['k']}", "k": o["k"], "file": o["file"],
                        "s": latency, "due": o["due"]})
        return {"ops": ops, "progress": progress, "drain_s": drain,
                "generator_lag_s": max(lag) if lag else 0.0}

    @staticmethod
    def _commit_time(ckpt: str, name: str) -> float | None:
        """Commit time of the micro-batch whose source log lists ``name``."""
        src = os.path.join(ckpt, "sources", "0")
        for entry in os.listdir(src) if os.path.isdir(src) else []:
            if not entry.isdigit():
                continue
            with open(os.path.join(src, entry), encoding="utf-8") as f:
                if any(name in line for line in f):
                    commit = os.path.join(ckpt, "commits", entry)
                    return os.path.getmtime(commit) if os.path.exists(commit) else None
        return None

    # -- output checks ---------------------------------------------------------

    def check(self, ctx, p: dict) -> None:
        want, docs = {}, set()
        for idx in self.log["schedule"]:
            f = self.log["files"][idx]
            for r in f["msgs"]:
                if r["id"] not in want or r["seq"] > want[r["id"]][1]:
                    want[r["id"]] = (r["part"], r["seq"], r["payload"])
            docs.update(r["doc_id"] for r in f["docs"])
        for o in p["ops"]:
            o["ok"] = o["s"] is not None
            o["detail"] = None if o["ok"] else "file never committed"
        got = {r["id"]: (r["part"], r["seq"], r["payload"])
               for r in self.store.read().select("id", "part", "seq", "payload").collect()}
        indexed = [r["doc"] for r in self.index.read().select("doc").collect()]
        pairs = {(r["doc_a"], r["doc_b"]) for r in ctx.spark.read.parquet(self.dirs["pairs"])
                 .select("doc_a", "doc_b").collect()}
        problems = []
        if got != want:
            problems.append(f"store differs from last-writer-wins replay on "
                            f"{sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))} keys")
        if sorted(indexed) != sorted(docs):
            problems.append(f"index holds {len(indexed)} docs, {len(docs)} delivered")
        missed = [pr for pr in self.log["planted"] if pr[1] in docs and pr not in pairs]
        if missed:
            problems.append(f"{len(missed)} planted re-posts not paired: {missed[:3]}")
        if any(a >= b for a, b in pairs):
            problems.append("pair with doc_a >= doc_b")
        if problems and p["ops"]:
            p["ops"][-1]["ok"] = False
            p["ops"][-1]["detail"] = "; ".join(problems)

    def e2e(self, p: dict) -> dict:
        lat = [o["s"] for o in p["ops"] if o["s"] is not None]
        limit = self.cfg["latency_limit_s"]
        late = sum(1 for o in p["ops"] if o["s"] is None or o["s"] > limit)
        t, pct, n = tail(lat)
        return {
            "stream.latency_s.p50": (median(lat), "s", len(lat)),
            "stream.latency_s.tail": (t, "s", n, f"p{pct}"),
            "stream.late_share": (late / max(len(p["ops"]), 1), "ratio", len(p["ops"])),
            "stream.generator_lag_s": (p["generator_lag_s"], "s", len(p["ops"])),
            "stream.drain_s": (p["drain_s"], "s", 1),
        }

    # -- traced run ---------------------------------------------------------------

    def instrument(self, tracer) -> None:
        from pasta_pipeline_spark.sources import tables
        from pasta_pipeline_spark.streaming import dedup

        tracer.wrap(dedup, "lsh_index_batch", "operators.text_dedup")
        orig = tables.TableStore.merge_partitioned
        self.rewritten = 0
        wl = self

        def merge_partitioned(store, *args, **kwargs):
            with tracer.span("sources.tables.merge_partitioned", "sources.tables"):
                out = orig(store, *args, **kwargs)
            live = store.current_version()
            parts = store.snapshot_partitions(live) or {}
            wl.rewritten += sum(1 for e in parts.values() if e["version"] == live)
            return out

        tracer.patch(tables.TableStore, "merge_partitioned", merge_partitioned)

    def trace_groups(self) -> list:
        return list(getattr(self, "run_ids", []))

    def layers(self, p: dict, tracer) -> dict:
        prog = [x for q in p["progress"] for x in q if x.get("numInputRows", 0) > 0]

        def dur(key):
            return sum(x["durationMs"].get(key, 0) for x in prog) / 1000.0

        rows = [x["numInputRows"] for x in prog]
        merges = [s for s in tracer.spans if s.name == "sources.tables.merge_partitioned"]
        lsh = [s for s in tracer.spans if s.name == "operators.text_dedup.lsh_index_batch"]
        return {
            "stream.trigger_s": dur("triggerExecution"),
            "stream.add_batch_s": dur("addBatch"),
            "stream.plan_s": dur("queryPlanning"),
            "stream.commit_s": dur("walCommit") + dur("commitOffsets"),
            "stream.rows_per_batch": median(rows) if rows else 0.0,
            "stream.backlog_rows_max": self._backlog(p),
            "stream.merge_s": sum(s.end - s.start for s in merges),
            "stream.lsh_s": sum(s.end - s.start for s in lsh),
            "stream.partitions_rewritten": float(self.rewritten),
            "stream.store_files": float(sum(dir_bytes(os.path.join(x.path, x.current_version()))[1]
                                            for x in (self.store, self.index) if x.exists())),
        }

    def _backlog(self, p: dict) -> float:
        """Most rows due but not yet committed at any delivery's due time."""
        rows_per = self.cfg["rows_per_file"] + self.cfg["docs_per_file"]
        ops = [o for o in p["ops"] if o["s"] is not None]
        worst = 0
        for o in ops:
            waiting = sum(1 for x in ops if x["due"] <= o["due"] < x["due"] + x["s"])
            worst = max(worst, waiting)
        return float(worst * rows_per)
