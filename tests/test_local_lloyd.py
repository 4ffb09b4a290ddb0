"""Driver-side Lloyd's twin (_lloyd_fp_rows) — r14 optimization.

The two-level gate's coarse quantizer trains over the FINE CENTROIDS
(k×d metadata, the broadcast build side), so r14 moved that training
driver-side. These tests pin the bit-exact equivalence contract against
the distributed trainer the DuckDB oracles replay: same seeds, same
sequential-fold cosines, same argmax tie order, same fixed-point means
— double-for-double equality, no tolerance.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _collect_rows(df, id_col="vec_id", vec_col="embedding"):
    return [
        (int(r[id_col]), [float(x) for x in r[vec_col]])
        for r in df.select(id_col, vec_col).collect()
    ]


@pytest.mark.parametrize("n_cells,iterations", [(3, 1), (8, 2), (5, 3)])
def test_local_lloyd_matches_distributed(spark, emb, n_cells, iterations):
    from pasta_pipeline_spark.operators.similarity import (
        _lloyd_fp_rows,
        train_ivf_centroids_fp,
    )

    dist = {
        int(r["cell_id"]): [float(x) for x in r["cv"]]
        for r in train_ivf_centroids_fp(
            emb, n_cells=n_cells, iterations=iterations
        ).collect()
    }
    local = dict(
        _lloyd_fp_rows(_collect_rows(emb), n_cells, iterations, 10_000_000)
    )
    assert set(dist) == set(local)
    for c in dist:
        # exact: both sides are the same IEEE double sequence
        assert dist[c] == local[c], f"cell {c} diverged"


def test_local_lloyd_empty_cell_keeps_seed(spark):
    """A centroid that wins no member keeps its previous value — the
    distributed trainer's left-join-coalesce contract."""
    from pasta_pipeline_spark.operators.similarity import (
        _lloyd_fp_rows,
        train_ivf_centroids_fp,
    )

    # two tight groups far apart + seeds that include a loser: ids 0,1
    # seed cells 0,1 but every vector is nearest one of them anyway —
    # use 3 cells over 2 groups so one seed goes memberless
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),
        (2, [0.98, 0.02, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.99, 0.01]),
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    )
    dist = {
        int(r["cell_id"]): [float(x) for x in r["cv"]]
        for r in train_ivf_centroids_fp(df, n_cells=3, iterations=2).collect()
    }
    local = dict(_lloyd_fp_rows(vecs, 3, 2, 10_000_000))
    assert dist == local


def _argmax_cells(slim, id_col, cell_col):
    """Reference argmax — the pre-kernel JVM shape: each id's best cell
    by ``max(struct(csim, -cell))`` (cosine desc, NaN greatest, cell
    asc) over (id, cell, __csim) rows."""
    st = F.max(
        F.struct(
            F.col("__csim").alias("s"),
            (-F.col(cell_col)).cast("long").alias("nc"),
        )
    ).alias("__st")
    return (
        slim.groupBy(id_col)
        .agg(st)
        .select(F.col(id_col), (-F.col("__st.nc")).cast("int").alias(cell_col))
    )


def test_two_level_structs_local_matches_spark_construction(spark, emb):
    """c2c/used from the driver-side construction equal the original
    distributed construction (broadcast-crossjoin argmax + semi-join),
    value for value."""
    from pasta_pipeline_spark.operators.similarity import (
        _two_level_structs_rows,
        dot,
        train_ivf_centroids_fp,
    )

    cent = train_ivf_centroids_fp(emb, n_cells=8, iterations=2).select(
        "cell_id",
        "cv",
        F.sqrt(dot(F.col("cv"), F.col("cv"))).alias("__cnrm"),
    )
    c2c, used = _two_level_structs_rows(
        [
            (int(r["cell_id"]), [float(x) for x in r["cv"]], float(r["__cnrm"]))
            for r in cent.collect()
        ],
        3,
        2,
        10_000_000,
    )

    # reference: the pre-r14 distributed construction
    coarse = train_ivf_centroids_fp(
        cent.select(F.col("cell_id").alias("fine_id"), F.col("cv").alias("fv")),
        n_cells=3,
        iterations=2,
        id_col="fine_id",
        vec_col="fv",
    ).select(F.col("cell_id").alias("coarse_id"), F.col("cv").alias("gv"))
    coarse = coarse.select(
        "coarse_id", "gv", F.sqrt(dot(F.col("gv"), F.col("gv"))).alias("__gnrm")
    )
    gsim = (
        dot(F.col("cv"), F.col("gv")) / (F.col("__cnrm") * F.col("__gnrm"))
    ).alias("__csim")
    ref_c2c = _argmax_cells(
        cent.crossJoin(F.broadcast(coarse)).select(
            F.col("cell_id"), F.col("coarse_id"), gsim
        ),
        "cell_id",
        "coarse_id",
    ).join(cent, "cell_id")
    ref_used = coarse.join(
        ref_c2c.select("coarse_id").distinct(), "coarse_id", "left_semi"
    )

    got_c2c = {c: (g, cv, cn) for c, g, cv, cn in c2c}
    want_c2c = {
        int(r["cell_id"]): (
            int(r["coarse_id"]),
            [float(x) for x in r["cv"]],
            float(r["__cnrm"]),
        )
        for r in ref_c2c.collect()
    }
    assert got_c2c == want_c2c

    got_used = {g: (gv, gn) for g, gv, gn in used}
    want_used = {
        int(r["coarse_id"]): ([float(x) for x in r["gv"]], float(r["__gnrm"]))
        for r in ref_used.collect()
    }
    assert got_used == want_used
