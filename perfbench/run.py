"""The repository benchmark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Workloads: etl_daily, dedup_corpus, catalog_sf0.1, stream_ingest (or
``all``, one after another in one process). Inputs are generated from
the seed under ``.perfbench_work/`` in the checkout; the program runs on
``local[nproc]``. Every operation's output is checked outside the timed
regions.

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` runs the
same operations traced (spans around the program's layer functions,
Spark's census per span) and then untraced, and reports the per-layer
metrics and the tracing overhead; a traced etl_daily run also traces
stream_ingest after it (``TRACE_COMPANIONS``). Human-readable lines go
first; the last line of standard output is one JSON object. The full record
(inputs, every named metric with its unit and sample count, spans) is
written to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

from common import (CONFIG, ROOT, WORK_ROOT, BENCH_DIR, RssSampler, finite, fresh_dir,
                    pin_environment, settle, start_spark, stop_everything)

WORKLOADS = ["etl_daily", "dedup_corpus", "catalog_sf0.1", "stream_ingest"]
#: the gated end-to-end metrics; what primary_s and secondary_s measure on
#: each workload is mapped in layers.json ("end_to_end_slots")
E2E = [("setup_s", "s"), ("primary_s", "s"), ("secondary_s", "s")]

with open(os.path.join(BENCH_DIR, "layers.json"), encoding="utf-8") as _f:
    _LAYERS = json.load(_f)
SLOTS = _LAYERS["end_to_end_slots"]
#: a traced run of a workload also traces these, in the same process, and
#: reports their own layers with its own: the streaming layer and the
#: partition-merge side of sources.tables are measured on etl_daily's
#: traced runs
TRACE_COMPANIONS = {"etl_daily": ["stream_ingest"]}
#: every per-layer metric: name -> (unit, workloads that emit it)
LAYER_METRICS = {n: (m["unit"], m["on"]) for g in _LAYERS["layers"] for n, m in g["metrics"].items()}


def make(name: str):
    if name == "etl_daily":
        from wl_etl import EtlDaily
        return EtlDaily()
    if name == "dedup_corpus":
        from wl_dedup import DedupCorpus
        return DedupCorpus()
    if name == "catalog_sf0.1":
        from wl_catalog import Catalog
        return Catalog()
    from wl_stream import StreamIngest
    return StreamIngest()


class Ctx:
    """What a workload needs from the run: its scratch directory, seed,
    run length, the session and (in the traced pass) the tracer."""

    def __init__(self, work: str, seed: int, seconds: float):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.spark = None
        self.tracer = None


def set_up(ctx: Ctx, wl, trace: bool) -> tuple[float, float]:
    """Start the session (stopping one a previous workload of --all left;
    only a fresh process's first start launches the JVM) and run the
    workload's warm-up. Returns (session start, warm-up) in seconds."""
    t0 = time.perf_counter()
    if ctx.spark is not None:
        ctx.spark.stop()
    ctx.spark = start_spark(ctx.work, trace)
    ctx.spark.range(1000).selectExpr("sum(id)").collect()
    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.warmup(ctx)
    return start_s, time.perf_counter() - t0


def run_workload(name: str, seed: int, seconds: float, trace: bool, cpus: int,
                 rss: RssSampler, spark=None) -> tuple[dict, object]:
    """Prepare, set up, measure and check one workload. Returns its
    record and the live session (reused by the next workload of --all)."""
    wl = make(name)
    ctx = Ctx(fresh_dir(os.path.join(WORK_ROOT, name.replace(".", "_"))), seed, seconds)
    ctx.spark = spark
    rss.peak = 0
    phases = {}
    clock = time.perf_counter()

    def phase(label):
        nonlocal clock
        now = time.perf_counter()
        phases[label] = now - clock
        clock = now

    record = {"workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
              "cpus": cpus, "inputs": wl.prepare(ctx), "phases_s": phases}
    phase("prepare")
    failures = []
    start_s, warm_s = set_up(ctx, wl, trace)
    record["setup"] = {"session_start_s": start_s, "warmup_s": warm_s}
    phase("setup")
    p = None
    try:
        plan = None
        if trace:
            # traced pass first: the untraced pass after it runs on a
            # warmer JVM, so the overhead reads high rather than low
            from tracing import Tracer

            wl.reset(ctx)
            tracer = Tracer(ctx.spark, run_id=f"{name}-{seed}")
            wl.instrument(tracer)
            tracer.wrap_actions()
            ctx.tracer = tracer
            settle(ctx.spark)
            try:
                tp = wl.measure(ctx, seconds)
            finally:
                tracer.unwrap()
                ctx.tracer = None
            plan = tp["ops"]
            phase("traced")
        wl.reset(ctx)
        settle(ctx.spark)
        phase("reset")
        p = wl.measure(ctx, seconds, plan=plan)
        phase("measure")
        wl.check(ctx, p)
        phase("check")
        if trace:
            record["layers"] = traced_layers(wl, p, tp, tracer, start_s, warm_s)
            record["cost_model"] = getattr(wl, "model_detail", None)
            record["spans"] = tracer.dump()
            phase("census")
    except Exception:  # a failing program run is reported, never hidden
        failures.append({"op": f"{name}:run", "detail": traceback.format_exc(limit=8)})
    ops = p["ops"] if p else []
    failures += [{"op": o["op"], "detail": o.get("detail")} for o in ops if not o.get("ok")]
    attempted = max(len(ops), 1)
    named = wl.e2e(p) if p and ops else {}
    named["setup_s"] = (start_s + warm_s, "s", 1)
    rss.sample()
    named["peak_rss_mb"] = (rss.peak_mb, "MiB", 1)
    named["ops_failed_share"] = (len(failures) / attempted, "ratio", attempted)
    record["named"] = {k: {"value": v[0], "unit": v[1], "n": v[2], **({"at": v[3]} if len(v) > 3 else {})}
                       for k, v in named.items()}
    record["metrics"] = {k: {"value": named.get(SLOTS[name].get(k, k), (None,))[0], "unit": u}
                         for k, u in E2E}
    record["ops"] = [{k: v for k, v in o.items() if k not in ("rows", "report")} for o in ops]
    record["attempted"], record["failed"] = attempted, len(failures)
    record["failures"] = failures
    record["correct"] = not failures and all(finite(m["value"]) for m in record["metrics"].values())
    return record, ctx.spark


def traced_layers(wl, p, tp, tracer, start_s, warm_s) -> dict:
    extra = getattr(wl, "trace_groups", lambda: [])()
    total = tracer.finalize(extra_groups=extra)
    out = {"session.start_s": start_s, "session.warmup_s": warm_s}
    prefix = wl.census_prefix
    for k in ("jobs", "sql_execs", "stages", "tasks", "task_busy_s", "shuffle_bytes", "spill_bytes"):
        out[f"{prefix}.{k}"] = float(total[k])
    out.update(wl.layers(tp, tracer))
    untraced = sum(o["s"] for o in p["ops"])
    traced = sum(o["s"] for o in tp["ops"])
    out["trace.overhead_s"] = traced - untraced
    out["trace.overhead_share"] = (traced - untraced) / untraced if untraced else 0.0
    declared = {k for k, (_, on) in LAYER_METRICS.items() if wl.name in on}
    if set(out) != declared:
        raise KeyError(f"{wl.name} emits per-layer metrics that layers.json does not declare on it: "
                       f"{sorted(set(out) - declared)}; declared but not emitted: "
                       f"{sorted(declared - set(out))}")
    # a layer the workload does not run reads 0
    return {k: out.get(k, 0.0) for k in LAYER_METRICS}


def report(rec: dict) -> None:
    print(f"== {rec['workload']} seed={rec['seed']} cpus={rec['cpus']} trace={rec['trace']}")
    print(f"   inputs: {json.dumps(rec['inputs'], sort_keys=True)}")
    print(f"   phases: {json.dumps({k: round(v, 2) for k, v in rec['phases_s'].items()})}"
          f" session start: {rec['setup']['session_start_s']:.2f} s")
    for k, m in sorted(rec["named"].items()):
        at = f" at {m['at']}" if "at" in m else ""
        print(f"   {k} = {m['value']:.6g} {m['unit']} (n={m['n']}{at})")
    status = "PASS" if rec["correct"] else "FAIL"
    print(f"   output check: {status} ({rec['attempted'] - rec['failed']}/{rec['attempted']} ops ok)")
    for f in rec["failures"]:
        print(f"   failed op {f['op']}: {f['detail']}")
    for k, v in sorted(rec.get("layers", {}).items()):
        print(f"   layer {k} = {v:.6g}")
    m = rec.get("cost_model")
    if m and "job_s" in m:
        print(f"   cost model over {m['n']} ops: wall = {m['job_s']:.3f} s/job + "
              f"{m['action_s']:.3f} s/action + {m['intercept_s']:.3f} s (rms resid "
              f"{m['resid_rms_s']:.3f} s); claimed 0.150 s/job + 0.450 s/action "
              f"(rms resid {m['claimed_resid_rms_s']:.3f} s)")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=CONFIG["default_seed"])
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    cpus = pin_environment()
    try:
        import pasta_pipeline_spark  # noqa: F401  (the program under test)
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    names = WORKLOADS if args.workload == "all" else [args.workload]
    if args.trace and args.workload != "all":
        names += TRACE_COMPANIONS.get(args.workload, [])
    records, spark = [], None
    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with RssSampler() as rss:
        try:
            for name in names:
                rec, spark = run_workload(name, args.seed, args.seconds, bool(args.trace), cpus,
                                          rss, spark)
                records.append(rec)
                report(rec)
        finally:
            stop_everything()

    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as f:
        json.dump(records, f, indent=1, default=str)

    def line_metrics(rec):
        if not args.trace:
            return rec["metrics"]
        return {k: {"value": v, "unit": LAYER_METRICS[k][0]} for k, v in rec.get("layers", {}).items()}

    if args.workload != "all":
        metrics, first = line_metrics(records[0]), records[0]["workload"]
        for rec in records[1:]:  # a companion fills in the layers only it runs
            metrics.update({k: v for k, v in line_metrics(rec).items()
                            if rec["workload"] in LAYER_METRICS[k][1]
                            and first not in LAYER_METRICS[k][1]})
        if args.trace:  # BENCHMARK.json's per-layer metrics and this run's own
            with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
                keep = {m["name"] for m in json.load(f)["per_layer"]}
            keep |= {k for k, (_, on) in LAYER_METRICS.items() if set(names) & set(on)}
            metrics = {k: v for k, v in metrics.items() if k in keep}
    else:
        metrics = {f"{r['workload']}/{k}": v for r in records for k, v in line_metrics(r).items()}
    out = {"correct": all(r["correct"] for r in records),
           "attempted": sum(r["attempted"] for r in records),
           "failed": sum(r["failed"] for r in records),
           "metrics": metrics}
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
