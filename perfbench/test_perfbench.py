"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from common import BENCH_DIR, ROOT, tail  # noqa: E402
from tracing import parse_metric, verify_yield  # noqa: E402


def _digests(seed: int, tmp) -> dict:
    out = {}
    out["etl"] = gen.gen_etl(seed, str(tmp / f"etl{seed}"), days=3, messages_per_day=30)["summary"]["digest"]
    out["dedup"] = gen.gen_dedup(seed, str(tmp / f"dedup{seed}"), docs=60, vectors=40)["summary"]["digest"]
    out["catalog"] = gen.gen_catalog(seed, str(tmp / f"cat{seed}"), 0.001)["summary"]["digest"]
    out["stream"] = gen.gen_stream(seed, 4)["summary"]["digest"]
    return out


def test_same_seed_reproduces_inputs_and_other_seed_changes_them(tmp_path):
    a = _digests(7, tmp_path / "a")
    b = _digests(7, tmp_path / "b")
    c = _digests(8, tmp_path / "c")
    assert a == b
    assert all(a[k] != c[k] for k in a), (a, c)


def test_etl_history_plants_recurring_links_and_every_outcome(tmp_path):
    log = gen.gen_etl(3, str(tmp_path), days=10, messages_per_day=60)
    mix = log["summary"]["fetch_mix"]
    assert all(mix[k] > 0 for k in ("success", "not_found", "server_error", "timeout", "too_large"))
    linked = [r["text"] for day in log["feed"] for r in day if "telegra.ph" in r["text"]]
    assert len(linked) > log["summary"]["links"]  # links recur across messages
    responses = gen.load_responses(str(tmp_path))
    assert len(responses) == log["summary"]["links"]
    big = [b for s, b in responses.values() if len(b) > 1_000_000]
    assert big and all(b is big[0] for b in big)  # one shared body object


def test_planted_clusters_are_near_duplicates(tmp_path):
    import numpy as np

    from wl_dedup import jaccard_truth

    log = gen.gen_dedup(5, str(tmp_path), docs=300, vectors=200)
    truth = jaccard_truth(log["docs"]["text"], 0.5)
    firsts = [(min(c[0], m), max(c[0], m)) for c in log["docs"]["clusters"] for m in c[1:]]
    assert sum(p in truth for p in firsts) / len(firsts) > 0.9
    v = log["vecs"]["vec"]
    sims = [float(v[c[0]] @ v[m]) for c in log["vecs"]["clusters"] for m in c[1:]]
    assert min(sims) > 0.9 and np.allclose(np.linalg.norm(v, axis=1), 1, atol=1e-5)


def test_tail_reports_the_highest_percentile_with_ten_beyond():
    assert tail(list(range(100))) == (89, 90.0, 100)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)  # too few: the maximum


def test_parse_metric_reads_status_store_renderings():
    assert parse_metric("139 ms") == pytest.approx(0.139)
    assert parse_metric("total (min, med, max (stageId: taskId))\n4.2 s (1.0 s, 1.1 s)") == 4.2
    assert parse_metric("9.4 KiB") == pytest.approx(9.4 * 1024)
    assert parse_metric("100,000") == 100000


def test_verify_yield_divides_kept_by_the_largest_join():
    ops = [
        {"exec": 1, "id": 1, "node": "Filter", "children": [2], "metrics": {"number of output rows": 5}},
        {"exec": 1, "id": 2, "node": "SortMergeJoin", "children": [], "metrics": {"number of output rows": 20}},
        {"exec": 1, "id": 4, "node": "BroadcastHashJoin", "children": [], "metrics": {"number of output rows": 2}},
        {"exec": 1, "id": 7, "node": "Scan parquet", "children": [], "metrics": {"number of output rows": 90}},
    ]
    assert verify_yield(5, ops) == 0.25
    assert verify_yield(5, []) == 0.0


def test_benchmark_json_matches_the_harness():
    from run import E2E, LAYER_METRICS, SLOTS, TRACE_COMPANIONS, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    with open(os.path.join(BENCH_DIR, "layers.json"), encoding="utf-8") as f:
        layers = [(n, m) for g in json.load(f)["layers"] for n, m in g["metrics"].items()]
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    listed = {w["name"] for w in bench["workloads"]}
    assert listed <= set(WORKLOADS) and set(SLOTS) == set(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == E2E
    # every per-layer metric a traced run of a listed workload emits, and no other
    traced = listed | {c for w in listed for c in TRACE_COMPANIONS.get(w, [])}
    assert bench["per_layer"] == [{"name": n, "unit": m["unit"], "better": m["better"]}
                                  for n, m in layers if traced & set(m["on"])]
    assert all(set(on) <= set(WORKLOADS) for _, on in LAYER_METRICS.values())
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
