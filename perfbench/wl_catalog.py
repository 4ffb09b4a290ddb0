"""catalog_sf0.1: registered catalog queries on a seeded sf0.1 catalog.

Each query is timed as construction + a noop-sink action, the way the
repository's A/B tool times it. The query list is fixed here. Outputs
are checked outside the timed region: every query's collected result
must hash-match its ``__spark_entry__.oracle_sql()`` DuckDB twin on the
same files, with ``tools/check_oracle.py``'s normalisation."""

from __future__ import annotations

import os
import sys
import time

import gen
from common import CONFIG, ROOT, median, span
from tracing import fit_cost_model

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class Catalog:
    name = "catalog_sf0.1"
    census_prefix = "catalog"

    def prepare(self, ctx) -> dict:
        self.cfg = CONFIG["catalog"]
        self.sf = os.path.join(ctx.work, "sf")
        self.tiny = os.path.join(ctx.work, "tiny")
        summary = gen.gen_catalog(ctx.seed, self.sf, self.cfg["scale"])["summary"]
        gen.gen_catalog(ctx.seed + 1000, self.tiny, self.cfg["warmup_scale"])
        return dict(summary, queries=len(self.cfg["queries"]))

    def _run(self, ctx, q: str, sf_dir: str) -> dict:
        from pasta_pipeline_spark.operators.util import release_cached_deps
        from pasta_pipeline_spark.queries.catalog import REGISTRY

        with span(ctx, f"queries.catalog.{q}", "queries.catalog"):
            t0 = time.perf_counter()
            df = REGISTRY[q].spark_fn(ctx.spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            release_cached_deps(df)
        return {"op": q, "s": t2 - t0, "construct_s": t1 - t0, "action_s": t2 - t1}

    def warmup(self, ctx) -> None:
        for q in self.cfg["queries"]:
            self._run(ctx, q, self.tiny)

    def reset(self, ctx) -> None:
        pass  # read-only workload

    def measure(self, ctx, seconds: float, plan: list | None = None) -> dict:
        """Whole passes over the query list until ``seconds`` have
        passed (at least one; or as many passes as ``plan`` holds)."""
        qs = self.cfg["queries"]
        n_plan = None if plan is None else len(plan) // len(qs)
        ops, passes, start = [], 0, time.perf_counter()
        while passes == 0 or (n_plan is None and time.perf_counter() - start < seconds) or (
                n_plan is not None and passes < n_plan):
            for q in qs:
                o = self._run(ctx, q, self.sf)
                o["pass"] = passes
                ops.append(o)
            passes += 1
        return {"ops": ops, "passes": passes}

    def check(self, ctx, p: dict) -> None:
        import duckdb

        import __spark_entry__ as entry
        from pasta_pipeline_spark.operators.util import release_cached_deps

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_oracle import _hash_rows

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        oracles, fns = entry.oracle_sql(), entry.queries()
        verdict = {}
        for q in self.cfg["queries"]:
            df = fns[q](ctx.spark, self.sf)
            rows = [tuple(r) for r in df.collect()]
            cols = [c.lower() for c in df.columns]
            release_cached_deps(df)
            rel = con.sql(oracles[q])
            ocols = [c.lower() for c in rel.columns]
            orows = rel.fetchall()
            if sorted(cols) != sorted(ocols):
                verdict[q] = f"columns {cols} != oracle {ocols}"
            elif len(rows) != len(orows):
                verdict[q] = f"{len(rows)} rows != oracle {len(orows)}"
            elif _hash_rows(cols, rows) != _hash_rows(ocols, orows):
                verdict[q] = "value hash differs from the DuckDB oracle"
            else:
                verdict[q] = None
        for o in p["ops"]:
            o["detail"] = verdict[o["op"]]
            o["ok"] = o["detail"] is None

    def e2e(self, p: dict) -> dict:
        per = {}
        for o in p["ops"]:
            per.setdefault(o["op"], []).append(o)
        total = sum(median([o["s"] for o in os_]) for os_ in per.values())
        action = sum(median([o["action_s"] for o in os_]) for os_ in per.values())
        return {"catalog.total_s": (total, "s", p["passes"]),
                "catalog.action_total_s": (action, "s", p["passes"])}

    def instrument(self, tracer) -> None:
        pass  # each query runs in its own queries.catalog span

    def layers(self, p: dict, tracer) -> dict:
        out = {"catalog.construct_s": sum(o["construct_s"] for o in p["ops"]),
               "catalog.action_s": sum(o["action_s"] for o in p["ops"])}
        for q in self.cfg["queries"]:
            out[f"catalog.q.{q}_s"] = median([o["s"] for o in p["ops"] if o["op"] == q])
        model, self.model_detail = fit_cost_model(
            tracer, [(f"queries.catalog.{o['op']}", o["s"]) for o in p["ops"]])
        out.update(model)
        return out
