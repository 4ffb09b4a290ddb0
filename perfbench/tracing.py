"""Spans and Spark's own census for the traced pass.

The tracer wraps the program's public layer functions from outside
(module attributes and every ``from x import f`` binding of them), so
the program itself is not edited. Each span:

- records name, layer, start, end, parent and the run id, in memory;
- runs under its own Spark job group, so the jobs it triggered can be
  read back from ``statusTracker()``;
- gets its census after the pass (:meth:`Tracer.finalize`): jobs, SQL
  executions, stages, tasks, task busy time, shuffle and spill bytes,
  and per-operator SQL metrics of its executions from
  ``_jsparkSession.sharedState().statusStore()``.

Actions (collect, count, writes) on a DataFrame a wrapped function
returned become child spans of that function's layer, so work a lazy
layer defers to a later action is charged to the layer that built it.
"""

from __future__ import annotations

import functools
import itertools
import re
import sys
import threading
import time
import uuid

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A SQL metric as the status store renders it ('4.2 s', '9.4 KiB',
    '100,000', or 'total (min, med, max ...)\\n<total> (...)') as a
    number in seconds, bytes or a count."""
    if not text:
        return 0.0
    s = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _NUM.match(s.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Span:
    __slots__ = ("sid", "name", "layer", "parent", "start", "end", "group", "census", "ops")

    def __init__(self, sid, name, layer, parent, group):
        self.sid, self.name, self.layer, self.parent, self.group = sid, name, layer, parent, group
        self.start = time.perf_counter()
        self.end = None
        self.census = None
        self.ops = None

    def as_dict(self, t0: float) -> dict:
        return {"id": self.sid, "name": self.name, "layer": self.layer, "parent": self.parent,
                "start": round(self.start - t0, 6), "end": round(self.end - t0, 6),
                "census": self.census, "sql_ops": self.ops}


class Tracer:
    """Span recorder bound to one SparkSession."""

    def __init__(self, spark, run_id: str | None = None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id or uuid.uuid4().hex[:8]
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self.t0 = time.perf_counter()

    # -- spans --------------------------------------------------------

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def ops_of(self, name: str) -> list:
        """Operator metrics of span ``name`` and of actions on the
        DataFrame it returned."""
        return [o for s in self.spans if s.name == name or s.name.startswith(name + ":")
                for o in (s.ops or [])]

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, layer: str) -> Span:
        """Spans nest per thread. Only the main thread's spans get a job
        group: callbacks from streaming threads run under the stream's
        own group (its run id), which the census reads instead."""
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1].sid if stack else None
        main = threading.current_thread() is threading.main_thread()
        sp = Span(sid, name, layer, parent, f"pb-{self.run_id}-{sid}" if main else None)
        stack.append(sp)
        if main:
            self.sc.setJobGroup(sp.group, name, False)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if sp.group is not None:
            if stack:
                self.sc.setJobGroup(stack[-1].group, stack[-1].name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        self.spans.append(sp)

    # -- census -------------------------------------------------------

    def finalize(self, extra_groups=()) -> dict:
        """Fill every span's census in one sweep over the status stores
        (kept out of the traced region so it adds no overhead there).
        Returns the census of all spans plus ``extra_groups`` (e.g. a
        streaming query's run id)."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_cache: dict[int, tuple] = {}

        def stage(s):
            if s not in stage_cache:
                try:
                    sd = store.lastStageAttempt(s)
                    stage_cache[s] = (sd.numCompleteTasks(), sd.executorRunTime() / 1000.0,
                                      sd.shuffleWriteBytes(),
                                      sd.memoryBytesSpilled() + sd.diskBytesSpilled())
                except Exception:  # skipped stage, or evicted from the store
                    stage_cache[s] = None
            return stage_cache[s]

        group_jobs: dict[str, dict[int, list]] = {}
        for g in [sp.group for sp in self.spans if sp.group] + list(extra_groups):
            jobs = {}
            for j in st.getJobIdsForGroup(g):
                info = st.getJobInfo(j)
                jobs[j] = list(info.stageIds) if info is not None else []
            group_jobs[g] = jobs
        job_group = {j: g for g, jobs in group_jobs.items() for j in jobs}
        ops_by_group = self._sql_ops(job_group)

        def census(groups):
            jobs = {j: st_ids for g in groups for j, st_ids in group_jobs.get(g, {}).items()}
            stages = {s for ids in jobs.values() for s in ids}
            c = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_busy_s": 0.0,
                 "shuffle_bytes": 0, "spill_bytes": 0}
            for s in stages:
                d = stage(s)
                if d is None:
                    continue
                c["stages"] += 1
                c["tasks"] += d[0]
                c["task_busy_s"] += d[1]
                c["shuffle_bytes"] += d[2]
                c["spill_bytes"] += d[3]
            ops = [o for g in groups for o in ops_by_group.get(g, [])]
            c["sql_execs"] = len({o["exec"] for o in ops})
            return c, ops

        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            kids.setdefault(sp.parent, []).append(sp)

        def subtree(sp):
            out = [sp.group] if sp.group else []
            for k in kids.get(sp.sid, []):
                out += subtree(k)
            return out

        for sp in self.spans:
            sp.census, _ = census(subtree(sp))  # the span and everything it caused
            sp.ops = ops_by_group.get(sp.group, []) if sp.group else []
        total, _ = census([sp.group for sp in self.spans if sp.group] + list(extra_groups))
        return total

    def _sql_ops(self, job_group: dict) -> dict:
        """Per-operator SQL metrics of every execution whose jobs belong
        to a traced group, keyed by that group."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[str, list] = {}
        it = store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            keys = e.jobs().keySet().iterator()
            group = None
            while keys.hasNext() and group is None:
                group = job_group.get(int(keys.next()))
            if group is None:
                continue
            values = store.executionMetrics(eid)
            graph = store.planGraph(eid)
            children: dict[int, list[int]] = {}
            edges = graph.edges().iterator()
            while edges.hasNext():
                ed = edges.next()
                children.setdefault(int(ed.toId()), []).append(int(ed.fromId()))
            nodes = graph.allNodes().iterator()
            while nodes.hasNext():
                n = nodes.next()
                metrics = {}
                mit = n.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                out.setdefault(group, []).append(
                    {"exec": eid, "id": int(n.id()), "node": n.name(),
                     "children": children.get(int(n.id()), []), "metrics": metrics})
        return out

    # -- wrapping -----------------------------------------------------

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` until :meth:`unwrap`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` (and every loaded binding of the same
        function object) with a span-recording wrapper."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(f"{layer}.{attr}", layer):
                out = orig(*args, **kwargs)
            _tag(out, layer, attr)
            return out

        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not d or not getattr(mod, "__name__", "").startswith("pasta_pipeline_spark"):
                continue
            for k, v in list(d.items()):
                if v is orig:
                    self.patch(mod, k, wrapper)

    def wrap_method(self, cls, attr: str, layer: str) -> None:
        orig = getattr(cls, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            with tracer.span(f"{layer}.{attr}", layer):
                out = orig(obj, *args, **kwargs)
            _tag(out, layer, attr)
            return out

        self.patch(cls, attr, wrapper)

    def wrap_actions(self) -> None:
        """Charge actions on layer-built DataFrames to that layer."""
        probe = self.spark.range(0)
        frame_cls, writer_cls = type(probe), type(probe.write)  # the concrete classes
        tracer = self

        def action(cls, attr, frame_of):
            orig = getattr(cls, attr)

            @functools.wraps(orig)
            def wrapper(obj, *args, **kwargs):
                tag = getattr(frame_of(obj), "_perfbench_layer", None)
                if tag is None:
                    return orig(obj, *args, **kwargs)
                with tracer.span(f"{tag[0]}.{tag[1]}:{attr}", tag[0]):
                    return orig(obj, *args, **kwargs)

            self.patch(cls, attr, wrapper)

        for a in ("collect", "count", "toPandas", "first", "take"):
            action(frame_cls, a, lambda df: df)
        for a in ("save", "parquet"):
            action(writer_cls, a, lambda w: getattr(w, "_df", None))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reports ------------------------------------------------------

    def self_times(self) -> dict:
        """Per-layer self time: span duration minus the part of it its
        child spans cover."""
        child = {}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + (sp.end - sp.start)
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.layer] = out.get(sp.layer, 0.0) + (sp.end - sp.start) - child.get(sp.sid, 0.0)
        return out

    def by_name(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def dump(self) -> list:
        return [s.as_dict(self.t0) for s in sorted(self.spans, key=lambda s: s.start)]


class _SpanCtx:
    def __init__(self, tracer, name, layer):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        self.sp = self.tracer._open(self.name, self.layer)
        return self.sp

    def __exit__(self, *exc):
        self.tracer._close(self.sp)
        return False


def _tag(out, layer: str, attr: str) -> None:
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        try:
            out._perfbench_layer = (layer, attr)
        except AttributeError:
            pass


def op_metric(ops, node_prefix: str, metric: str) -> float:
    return sum(o["metrics"].get(metric, 0.0) for o in ops or [] if o["node"].startswith(node_prefix))


def largest_join(ops, skip_rows=None) -> float:
    """Most rows any join emitted in ``ops`` (ignoring joins that emitted
    exactly ``skip_rows``, e.g. a final join that flags every input
    row): the candidate count of a candidate-then-verify pair tier."""
    return max((o["metrics"].get("number of output rows", 0.0) for o in ops or []
                if "Join" in o["node"]
                and o["metrics"].get("number of output rows") != skip_rows), default=0.0)


def verify_yield(kept: int, ops, skip_rows=None) -> float:
    """Useful outcomes ÷ candidates the tier generated (0 if none)."""
    cand = largest_join(ops, skip_rows)
    return kept / cand if cand else 0.0


#: NOTES #83's claim for the catalog: wall ≈ jobs × 150 ms + actions × 450 ms
CLAIMED_JOB_S, CLAIMED_ACTION_S = 0.150, 0.450


def fit_cost_model(tracer, samples) -> tuple[dict, dict]:
    """Least-squares fit of ``wall ≈ a·jobs + b·sql_execs + c`` over
    ``samples`` = [(span name, wall seconds)], jobs and SQL executions
    (driver actions) taken from each span's census, matched to the
    spans of that name in run order. Returns the per-layer metrics and
    a detail record set beside the claimed NOTES #83 constants."""
    import numpy as np

    queue: dict[str, list] = {}
    for s in sorted(tracer.spans, key=lambda s: s.start):
        queue.setdefault(s.name, []).append(s)
    rows = []
    for name, wall in samples:
        if queue.get(name):
            c = queue[name].pop(0).census
            rows.append((c["jobs"], c["sql_execs"], wall))
    detail = {"n": len(rows), "claimed_job_s": CLAIMED_JOB_S,
              "claimed_action_s": CLAIMED_ACTION_S}
    if len(rows) < 4:
        return {"catalog.model.job_s": 0.0, "catalog.model.action_s": 0.0,
                "catalog.model.resid_s": 0.0}, detail
    a = np.array([[j, e, 1.0] for j, e, _ in rows])
    y = np.array([w for _, _, w in rows])
    coef, *_ = np.linalg.lstsq(a, y, rcond=None)
    resid = float(np.sqrt(np.mean((y - a @ coef) ** 2)))
    claimed = float(np.sqrt(np.mean((y - a[:, 0] * CLAIMED_JOB_S - a[:, 1] * CLAIMED_ACTION_S) ** 2)))
    detail.update({"job_s": float(coef[0]), "action_s": float(coef[1]), "intercept_s": float(coef[2]),
                   "resid_rms_s": resid, "claimed_resid_rms_s": claimed,
                   "samples": [{"jobs": j, "sql_execs": e, "wall_s": w} for j, e, w in rows]})
    return {"catalog.model.job_s": float(coef[0]), "catalog.model.action_s": float(coef[1]),
            "catalog.model.resid_s": resid}, detail
