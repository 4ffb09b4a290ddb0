"""Cluster-gated SemDedup (wave 32): the IVF gate's contracts.

The banded semantic_dedup's second decade is bounded by band-collision
statistics (NOTES #66); semantic_dedup_clustered bounds pair volume by
CONSTRUCTION (Σ|cell|²/2). These tests pin the properties the oracle
corpus can't: the n_cells=1 exhaustive-equivalence, multiprobe recall
monotonicity, trainer determinism, and the auto recipe's boundaries.
"""

from __future__ import annotations

import hashlib
import json
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _pairs_set(df):
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


def _with_nrm(df):
    from pasta_pipeline_spark.operators.similarity import dot

    return df.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("__nrm"),
    )


def test_auto_ivf_cells_boundaries():
    from pasta_pipeline_spark.operators.similarity import (
        IVF_BASE_CELLS,
        LSH_CALIBRATED_N,
        auto_ivf_cells,
    )

    assert auto_ivf_cells(100) == IVF_BASE_CELLS
    assert auto_ivf_cells(LSH_CALIBRATED_N) == IVF_BASE_CELLS
    # past the anchor: sqrt(n), never below base
    assert auto_ivf_cells(200_000) == 447  # round(sqrt(200000))
    assert auto_ivf_cells(2001) >= IVF_BASE_CELLS


def test_ivf_single_cell_is_exhaustive(spark, emb):
    """n_cells=1 puts every vector in one cell, so the gate degenerates
    to the exact all-pairs contract — equivalence against the
    brute-force cosine_dup_pairs oracle, no cluster geometry involved."""
    from pasta_pipeline_spark.operators.similarity import (
        cosine_dup_pairs,
        ivf_dup_pairs,
    )

    got = _pairs_set(ivf_dup_pairs(emb, 0.3, dim=64, n_cells=1, iterations=1))
    want = _pairs_set(cosine_dup_pairs(emb, 0.3, use_lsh=False))
    assert got == want and len(want) > 0


def test_ivf_pairs_are_true_pairs(spark, emb):
    """No false positives at any cell count: every emitted pair clears
    the exact threshold (subset of the brute-force truth)."""
    from pasta_pipeline_spark.operators.similarity import (
        cosine_dup_pairs,
        ivf_dup_pairs,
    )

    got = _pairs_set(ivf_dup_pairs(emb, 0.3, dim=64, n_cells=6, iterations=2))
    want = _pairs_set(cosine_dup_pairs(emb, 0.3, use_lsh=False))
    assert got <= want and len(got) > 0


def test_multiprobe_recall_monotone(spark, emb):
    """n_probe=2 probes a superset of each vector's cells (its top-1
    cell included), so the pair set can only grow."""
    from pasta_pipeline_spark.operators.similarity import ivf_dup_pairs

    p1 = _pairs_set(ivf_dup_pairs(emb, 0.3, dim=64, n_cells=6, n_probe=1))
    p2 = _pairs_set(ivf_dup_pairs(emb, 0.3, dim=64, n_cells=6, n_probe=2))
    assert p1 <= p2


def test_dedup_clustered_keep_contract(spark, emb):
    """kept == 0 exactly for the id_b side of the gate's pairs; the
    smallest id of every near-dup group survives."""
    from pasta_pipeline_spark.operators.similarity import (
        ivf_dup_pairs,
        semantic_dedup_clustered,
    )

    pairs = ivf_dup_pairs(emb, 0.3, dim=64, n_cells=6, iterations=2)
    dropped_want = {r.id_b for r in pairs.collect()}
    out = semantic_dedup_clustered(emb, 0.3, dim=64, n_cells=6, iterations=2)
    rows = out.collect()
    assert len(rows) == emb.count()
    dropped_got = {r.vec_id for r in rows if r.kept == 0}
    assert dropped_got == dropped_want
    # group minima survive: an id smaller than every partner it pairs
    # with is never droppable
    all_pair_ids = {r.id_a for r in pairs.collect()} | dropped_want
    if all_pair_ids:
        assert min(all_pair_ids) not in dropped_got


def test_fp_trainer_deterministic(spark, emb):
    """Two independent runs produce bit-identical centroids (fixed
    seeds, fixed-point order-free means) — the property the DuckDB
    oracle twin's bit-for-bit replay rests on."""
    from pasta_pipeline_spark.operators.similarity import train_ivf_centroids_fp

    def snap():
        return sorted(
            (r.cell_id, tuple(r.cv))
            for r in train_ivf_centroids_fp(emb, n_cells=5, iterations=2).collect()
        )

    a, b = snap(), snap()
    assert a == b
    assert len(a) == 5


def test_fp_trainer_sample_mod(spark, emb):
    """sample_mod trains on the deterministic id-subset but still
    yields n_cells centroids usable for full-corpus assignment."""
    from pasta_pipeline_spark.operators.similarity import (
        ivf_dup_pairs,
        train_ivf_centroids_fp,
    )

    cent = train_ivf_centroids_fp(emb, n_cells=4, iterations=1, sample_mod=3)
    assert cent.count() == 4
    # and the end-to-end gate accepts an explicit sample mod
    pairs = ivf_dup_pairs(
        emb, 0.3, dim=64, n_cells=4, iterations=1, train_sample_mod=3
    )
    assert pairs.count() >= 0


def test_cluster_gate_recall_report_bounds(spark, emb):
    """One row; numerator is a subset of the denominator by
    construction, so recall_sc <= 1e6; n_cells=1 ⇒ recall == 1e6."""
    from pasta_pipeline_spark.operators.similarity import (
        cluster_gate_recall_report,
    )

    row = cluster_gate_recall_report(emb, 0.3, n_cells=6).collect()[0]
    assert row.n_gated_pairs <= row.n_true_pairs
    assert row.recall_sc is None or 0 <= row.recall_sc <= 1_000_000
    full = cluster_gate_recall_report(emb, 0.3, n_cells=1, iterations=1).collect()[0]
    assert full.n_true_pairs > 0 and full.recall_sc == 1_000_000


def test_wrong_dim_vectors_fail_closed(spark, emb):
    """Vectors whose length != dim are excluded from the gate but kept
    (kept=1) in the dedup output — same contract as semantic_dedup."""
    from pasta_pipeline_spark.operators.similarity import semantic_dedup_clustered

    bad = spark.createDataFrame(
        [(999_999, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    aug = emb.select("vec_id", "embedding").unionByName(bad)
    out = semantic_dedup_clustered(aug, 0.3, dim=64, n_cells=6)
    r = out.where(F.col("vec_id") == 999_999).collect()
    assert len(r) == 1 and r[0].kept == 1


def test_diverse_keep_contract(spark, emb):
    """semantic_dedup_diverse drops the more-central side of every
    pair (paper keep policy): recompute the loser set from the gate's
    pairs + per-vector centroid sims and compare."""
    from pasta_pipeline_spark.operators.similarity import (
        _assign_ivf,
        _flat_layout,
        _train_ivf_rows,
        ivf_dup_pairs,
        semantic_dedup_diverse,
    )

    src = _with_nrm(emb)
    cells = _train_ivf_rows(src, 6, 2, "vec_id", "embedding")
    assigned = _assign_ivf(src, _flat_layout(cells), "vec_id", "embedding")
    cs = {r.vec_id: r["__ccsim"] for r in assigned.collect()}
    pairs = ivf_dup_pairs(emb, 0.3, dim=64, n_cells=6, iterations=2).collect()
    want = set()
    for p in pairs:
        a_wins = (cs[p.id_a], p.id_a) < (cs[p.id_b], p.id_b)
        want.add(p.id_b if a_wins else p.id_a)
    out = semantic_dedup_diverse(emb, 0.3, dim=64, n_cells=6, iterations=2)
    got = {r.vec_id for r in out.collect() if r.kept == 0}
    assert got == want and len(want) > 0


def test_cell_profile_pair_volume(spark, emb):
    """ivf_cell_profile's gate_pairs sums to exactly the candidate
    volume the n_probe=1 gate generates (threshold=-1 keeps every
    cell-confined pair)."""
    from pasta_pipeline_spark.operators.similarity import (
        ivf_cell_profile,
        ivf_dup_pairs,
    )

    prof = ivf_cell_profile(emb, dim=64, n_cells=6, iterations=2).collect()
    total = sum(r.gate_pairs for r in prof)
    assert sum(r.n_members for r in prof) == emb.count()
    all_pairs = ivf_dup_pairs(emb, -1.0, dim=64, n_cells=6, iterations=2).count()
    assert total == all_pairs and total > 0


def test_hash_cluster_edges_component_equivalent(spark):
    """hash_cluster_edges (clique->star + distinct-hash banding) must
    yield EXACTLY the components and min-id survivors the full banded
    pair frame yields — including hot identical-hash groups, the case
    it exists for (sf10: 998 distinct hashes over 500k rows)."""
    import numpy as np

    from pasta_pipeline_spark.operators.multimodal import (
        banded_hamming_pairs,
        hash_cluster_edges,
    )
    from pasta_pipeline_spark.operators.text_dedup import duplicate_clusters
    from pyspark.sql import functions as F

    rng = np.random.RandomState(11)
    rows = []
    # 40 hash values, heavy groups (up to 30 identical), 2 geometries,
    # plus near-miss hashes 1-2 bits apart to exercise rep-rep edges
    base_hashes = [int(rng.randint(0, 1 << 60)) for _ in range(40)]
    mid = 0
    for hi, h in enumerate(base_hashes):
        geom = (8 + hi % 2, 8)
        for _ in range(int(rng.randint(1, 30))):
            rows.append((mid, geom[0], geom[1], h))
            mid += 1
        if hi % 3 == 0:  # a 1-bit neighbor group
            rows.append((mid, geom[0], geom[1], h ^ 1))
            mid += 1
    df = spark.createDataFrame(
        rows, "media_id long, width int, height int, dhash long"
    )
    ids = df.select(F.col("media_id").alias("doc_id"))

    def clusters(pairs):
        out = duplicate_clusters(
            ids, pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        )
        return sorted((r.doc_id, r.cluster_id, r.is_survivor) for r in out.collect())

    full = clusters(
        banded_hamming_pairs(df, ["width", "height"], "dhash", "media_id")
    )
    reduced = clusters(hash_cluster_edges(df, ["width", "height"], "dhash", "media_id"))
    assert full == reduced and len(full) == len(rows)


# ---- two-level (coarse-quantizer) assignment, wave 34 (r13) ----


def test_auto_coarse_cells_boundaries():
    from pasta_pipeline_spark.operators.similarity import auto_coarse_cells

    assert auto_coarse_cells(8) == 3       # round(sqrt(8))
    assert auto_coarse_cells(447) == 21    # the sf10 shape
    assert auto_coarse_cells(2) == 2       # floor of 2 — never a 1-group
    assert auto_coarse_cells(1) == 2


def test_two_level_single_group_equals_flat(spark, emb):
    """n_coarse=1 puts every fine cell in one coarse group, so pass 2
    scores ALL fine cells with the flat tie order — the two-level
    assignment degenerates to the flat one EXACTLY (pair sets equal),
    which pins both argmax passes and the member join against the
    flat path's semantics."""
    from pasta_pipeline_spark.operators.similarity import ivf_dup_pairs

    flat = _pairs_set(
        ivf_dup_pairs(emb, 0.3, dim=64, n_cells=6, iterations=2, two_level=False)
    )
    tl = _pairs_set(
        ivf_dup_pairs(
            emb, 0.3, dim=64, n_cells=6, iterations=2, two_level=True, n_coarse=1
        )
    )
    assert tl == flat and len(flat) > 0


def test_two_level_full_probe_equals_flat(spark, emb):
    """coarse_probe == n_coarse probes every coarse group, so the fine
    candidate set is again ALL cells — exact flat equivalence through
    the multiprobe path."""
    from pasta_pipeline_spark.operators.similarity import ivf_dup_pairs

    flat = _pairs_set(
        ivf_dup_pairs(emb, 0.3, dim=64, n_cells=6, iterations=2, two_level=False)
    )
    tl = _pairs_set(
        ivf_dup_pairs(
            emb, 0.3, dim=64, n_cells=6, iterations=2,
            two_level=True, n_coarse=3, coarse_probe=3,
        )
    )
    assert tl == flat


def test_two_level_pairs_are_true_pairs(spark, emb):
    """No false positives through the two-level route either: every
    emitted pair clears the exact threshold."""
    from pasta_pipeline_spark.operators.similarity import (
        cosine_dup_pairs,
        ivf_dup_pairs,
    )

    got = _pairs_set(
        ivf_dup_pairs(emb, 0.3, dim=64, n_cells=6, iterations=2, two_level=True)
    )
    want = _pairs_set(cosine_dup_pairs(emb, 0.3, use_lsh=False))
    assert got <= want and len(got) > 0


def test_assign_profile_consistency(spark, emb):
    """The profile's counts satisfy their own identities: flat =
    n·cells, two_level = coarse_pass + fine_pass, Σ assigned = n means
    fine_pass <= n·cells."""
    from pasta_pipeline_spark.operators.similarity import ivf_assign_profile

    row = ivf_assign_profile(emb, dim=64, n_cells=8).collect()[0]
    assert row.n_vectors == 500
    assert row.cosines_flat == row.n_vectors * row.n_cells
    assert row.cosines_coarse_pass == row.n_vectors * row.n_coarse_used
    assert row.cosines_two_level == row.cosines_coarse_pass + row.cosines_fine_pass
    assert 0 < row.cosines_fine_pass <= row.cosines_flat
    assert row.n_coarse_used <= row.n_coarse


def test_semantic_dedup_auto_below_anchor_is_banded(spark, emb):
    """At gate scale the front door routes to the banded path —
    output EXACTLY semantic_dedup's (same auto-calibrated config)."""
    from pasta_pipeline_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_auto,
    )

    want = {(r.vec_id, r.kept) for r in semantic_dedup(
        emb, 0.4, dim=64, num_planes=None, num_bands=2
    ).collect()}
    got = {(r.vec_id, r.kept) for r in semantic_dedup_auto(
        emb, 0.4, dim=64
    ).collect()}
    assert got == want and len(got) == emb.count()


def test_semantic_dedup_auto_above_anchor_is_clustered(spark, emb):
    """Past the anchor the front door routes to the cluster gate —
    output EXACTLY semantic_dedup_clustered's (anchor forced below
    the fixture so the dispatch itself is what's under test)."""
    from pasta_pipeline_spark.operators.similarity import (
        semantic_dedup_auto,
        semantic_dedup_clustered,
    )

    want = {(r.vec_id, r.kept) for r in semantic_dedup_clustered(
        emb, 0.4, dim=64, n_cells=None
    ).collect()}
    got = {(r.vec_id, r.kept) for r in semantic_dedup_auto(
        emb, 0.4, dim=64, anchor=10
    ).collect()}
    assert got == want


def test_two_level_keep_contract(spark, emb):
    """semantic_dedup_clustered(two_level=True) keeps the same
    smallest-id-survives law over ITS gate's pairs."""
    from pasta_pipeline_spark.operators.similarity import (
        ivf_dup_pairs,
        semantic_dedup_clustered,
    )

    pairs = ivf_dup_pairs(emb, 0.3, dim=64, n_cells=6, iterations=2, two_level=True)
    dropped_want = {r.id_b for r in pairs.collect()}
    out = semantic_dedup_clustered(
        emb, 0.3, dim=64, n_cells=6, iterations=2, two_level=True
    )
    rows = out.collect()
    assert len(rows) == emb.count()
    assert {r.vec_id for r in rows if r.kept == 0} == dropped_want


# ---- one assignment kernel: multiprobe exactness and edge inputs ----


def _seq_norm(M):
    acc = np.zeros(M.shape[0])
    for j in range(M.shape[1]):
        acc = acc + M[:, j] * M[:, j]
    return np.sqrt(acc)


def _seq_cos(V, C):
    """n×k cosines with the sequential per-dim fold the engines use."""
    acc = np.zeros((V.shape[0], C.shape[0]))
    for j in range(V.shape[1]):
        acc = acc + V[:, j, None] * C[None, :, j]
    with np.errstate(all="ignore"):
        return acc / (_seq_norm(V)[:, None] * _seq_norm(C)[None, :])


def _ranked(scores, ids, k):
    """The k best ids under the gate's total order: cosine desc, NaN
    greatest, id asc."""

    def key(i):
        s = scores[i]
        return (0, 0.0, ids[i]) if math.isnan(s) else (1, -s, ids[i])

    return [ids[i] for i in sorted(range(len(ids)), key=key)[:k]]


def _layout(cells, cfg):
    from pasta_pipeline_spark.operators.similarity import (
        _flat_layout,
        _two_level_structs_rows,
    )

    if cfg.get("two_level"):
        return _two_level_structs_rows(cells, cfg["n_coarse"], 2, 10_000_000)
    return _flat_layout(cells)


def _probed_cells(df, cfg):
    """(kernel, NumPy) probed (id, cell) sets for ``df`` over the
    trained 8-cell geometry ivf_dup_pairs builds for ``cfg``."""
    from pasta_pipeline_spark.operators.similarity import (
        _assign_ivf,
        _train_ivf_rows,
    )

    src = _with_nrm(df)
    cells = _train_ivf_rows(src, 8, 2, "vec_id", "embedding")
    layout = _layout(cells, cfg)
    n_probe, coarse_probe = cfg.get("n_probe", 1), cfg.get("coarse_probe", 1)
    got = {
        (r.vec_id, r.cell_id)
        for r in _assign_ivf(
            src, layout, "vec_id", "embedding", n_probe, coarse_probe
        ).collect()
    }

    rows = sorted(
        (int(r.vec_id), [float(x) for x in r.embedding]) for r in df.collect()
    )
    want = set()
    if not rows:
        return got, want, layout
    V = np.array([v for _, v in rows])
    c2c, used = layout
    cell_ids = [c for c, _, _, _ in c2c]
    S = _seq_cos(V, np.array([cv for _, _, cv, _ in c2c]))
    if len(used) > 1:
        gids = [g for g, _, _ in used]
        GS = _seq_cos(V, np.array([gv for _, gv, _ in used]))
    for i, (vid, _) in enumerate(rows):
        groups = (
            set(_ranked(GS[i], gids, coarse_probe)) if len(used) > 1 else {used[0][0]}
        )
        cand = [k for k, (_, g, _, _) in enumerate(c2c) if g in groups]
        want |= {
            (vid, c)
            for c in _ranked(S[i, cand], [cell_ids[k] for k in cand], n_probe)
        }
    return got, want, layout


#: ivf_dup_pairs(emb, 0.3, dim=64, n_cells=8, iterations=2, **cfg) pair
#: sets recorded from the JVM crossJoin + rank-window multiprobe shapes
#: the kernel replaced: (count, sha256 of the sorted json pair list)
MULTIPROBE = [
    pytest.param(
        dict(two_level=False, n_probe=2), 670, "ea29a3517f313a24", id="flat-probe2"
    ),
    pytest.param(
        dict(two_level=False, n_probe=3), 888, "17d3c0d0bd1ca261", id="flat-probe3"
    ),
    pytest.param(
        dict(two_level=True, n_coarse=3, coarse_probe=2, n_probe=2),
        676,
        "d752f8c4a3af7923",
        id="two-level-coarse3x2-probe2",
    ),
]


@pytest.mark.parametrize("cfg,n_pairs,digest", MULTIPROBE)
def test_multiprobe_matches_numpy_ranking(spark, emb, cfg, n_pairs, digest):
    """Every vector's probed-cell set equals an independent NumPy
    ranking over the trained centroid rows (top coarse_probe groups,
    then top n_probe cells among their members), and the gate's pair
    sets are the ones the JVM multiprobe shapes produced."""
    from pasta_pipeline_spark.operators.similarity import ivf_dup_pairs

    got, want, _ = _probed_cells(emb, cfg)
    assert got == want
    pairs = sorted(
        _pairs_set(ivf_dup_pairs(emb, 0.3, dim=64, n_cells=8, iterations=2, **cfg))
    )
    assert len(pairs) == n_pairs
    assert hashlib.sha256(json.dumps(pairs).encode()).hexdigest()[:16] == digest


EDGE_ID = 1_000_000

EDGE_MODES = {
    "flat": dict(two_level=False),
    "two_level": dict(two_level=True, n_coarse=3),
    "multiprobe": dict(two_level=True, n_coarse=3, coarse_probe=2, n_probe=2),
}


def _edge_input(spark, emb, kind):
    schema = "vec_id long, embedding array<float>"
    base = emb.select("vec_id", "embedding").where(F.col("vec_id") < 60)
    if kind == "zero":
        return base.unionByName(spark.createDataFrame([(EDGE_ID, [0.0] * 64)], schema))
    if kind == "nan":
        return base.unionByName(
            spark.createDataFrame([(EDGE_ID, [float("nan")] + [0.5] * 63)], schema)
        )
    if kind == "empty":
        return spark.createDataFrame([], schema)
    return base.where(F.col("vec_id") < 5)  # n_cells=8 > n=5


@pytest.mark.parametrize("mode", list(EDGE_MODES))
@pytest.mark.parametrize("kind", ["zero", "nan", "empty", "n_cells_gt_n"])
def test_ivf_gate_edge_inputs(spark, emb, kind, mode):
    """Edge inputs through flat, two-level and multiprobe assignment.
    None may raise. A zero or NaN vector scores NaN against every cell
    and lands in the lowest cell(s) — the argmax/rank-window order,
    NaN greatest, cell asc — and pairs with nothing.

    What the JVM-shape code did before the single kernel:
    - zero: raised DIVIDE_BY_ZERO (ANSI) in all three modes — the pair
      verify's cosine divided by the zero norm (and so did the JVM
      multiprobe scoring). Kept: the lowest-cell assignment.
    - nan: flat and two-level put it in the lowest cell and paired it
      with nothing (the Arrow kernel returns its NaN norm as NULL);
      multiprobe put it in the lowest cells but paired it with every
      cell-mate at sim NaN (Spark ranks NaN above any threshold). Kept:
      the flat and two-level behaviour, now in every mode.
    - empty: flat returned no rows; two-level and multiprobe raised
      ValueError training the coarse quantizer over zero cells. Kept:
      no rows.
    - n_cells > n: min(n_cells, n) cells, no pairs at 0.3. Kept."""
    from pasta_pipeline_spark.operators.similarity import ivf_dup_pairs

    cfg = EDGE_MODES[mode]
    df = _edge_input(spark, emb, kind)
    pairs = ivf_dup_pairs(df, 0.3, dim=64, n_cells=8, iterations=2, **cfg).collect()
    assert all(EDGE_ID not in (p.id_a, p.id_b) for p in pairs)
    if kind in ("empty", "n_cells_gt_n"):
        assert pairs == []

    got, want, (c2c, used) = _probed_cells(df, cfg)
    assert got == want
    if kind == "empty":
        assert got == set()
    if kind == "n_cells_gt_n":
        assert len(c2c) == 5
    if kind in ("zero", "nan"):
        lowest_groups = sorted(g for g, _, _ in used)[: cfg.get("coarse_probe", 1)]
        lowest = sorted(c for c, g, _, _ in c2c if g in lowest_groups)
        assert {c for i, c in got if i == EDGE_ID} == set(
            lowest[: cfg.get("n_probe", 1)]
        )
