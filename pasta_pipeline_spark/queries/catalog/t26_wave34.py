"""Catalog tier: wave 34 (r13) — the two-level (coarse-quantizer) IVF
assignment, bounding the cluster gate's THIRD decade.

The r12 verdict's top ask: the flat assignment pays n·cells cosines for
the final full-corpus assignment — with cells = √n that is n^1.5 (89M
cosines at sf10, 2.8B at 2M vectors; NOTES #75(a)). The two-level
shape trains √cells coarse centroids OVER the fine centroids
(metadata-scale deterministic Lloyd's), maps each fine cell to its
nearest coarse group, and assigns each vector in two argmax passes
(coarse group, then fine cell among its members — both inside the one
assignment kernel, `similarity._assign_ivf`) — total scoring
~2·n·√cells ≈ n^1.25. This wave registers the
forced-two-level SemDedup (the auto path only engages past
IVF_TWO_LEVEL_MIN_CELLS, so gate-scale corpora would never exercise
it), its measured recall audit, and the assignment-cost profile whose
sf1/sf10 readings ARE the NOTES measurement the verdict asked for.
Every oracle replays the WHOLE pipeline — fine training, coarse
training over the fine centroids, the cell→group map, and both argmax
passes — unrolled in SQL, bit for bit.

Registration stays APPEND-ONLY: imported after t25 by the package
__init__, so every earlier query's driver window is byte-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pasta_pipeline_spark.queries.catalog._core import _t, register
from pasta_pipeline_spark.queries.catalog.t24_wave32 import _ivf_pairs_sql


def _two_level_sql(
    dim: int = 64,
    n_cells: int = 8,
    iterations: int = 2,
    n_coarse: int = 3,
    coarse_iterations: int = 2,
    threshold: float = 0.4,
    fp_scale: int = 10_000_000,
    src_table: str = "embeddings",
) -> str:
    """WITH-clause chain replaying ivf_dup_pairs(two_level=True) bit
    for bit, ending in ``dup2(id_a, id_b, sim)``. Reuses the wave-32
    fine-training chain verbatim (src → cent{iterations} → centf; its
    flat ``af``/``dup`` CTEs go unreferenced and DuckDB prunes them),
    then unrolls the COARSE Lloyd's over the fine centroids with the
    identical recipe — lowest-cell_id seeds, cosine-desc/coarse-asc
    tie order, int64 fixed-point means, empty-cell COALESCE — and the
    two assignment passes:

    - ``c2c``: fine cell → nearest coarse group (argmax);
    - ``gused``: coarse groups that won ≥1 fine cell (a vector routed
      to an empty group would vanish in the member join);
    - ``vg``: vector → nearest used coarse group (pass 1);
    - ``af2``: vector → nearest fine cell among its group's members
      (pass 2), carrying emb + nrm;
    - ``dup2``: within-cell pairs clearing the exact cosine threshold.
    """
    parts = [
        _ivf_pairs_sql(
            dim, n_cells, iterations, threshold, fp_scale, src_table=src_table
        )
    ]
    parts.append(
        f"""gcent0 AS (
      SELECT CAST(row_number() OVER (ORDER BY cell_id) - 1 AS INT) AS coarse_id,
             cv AS gv
      FROM (SELECT cell_id, cv FROM centf ORDER BY cell_id LIMIT {n_coarse})
    )"""
    )
    for i in range(coarse_iterations):
        parts.append(
            f"""gcentn{i} AS (
      SELECT coarse_id, gv, sqrt(list_dot_product(gv, gv)) AS gnrm FROM gcent{i}
    ),
    gasg{i + 1} AS (
      SELECT cell_id, cv, coarse_id FROM (
        SELECT c.cell_id, c.cv, g.coarse_id,
               row_number() OVER (PARTITION BY c.cell_id
                 ORDER BY list_dot_product(c.cv, g.gv) / (c.cnrm * g.gnrm) DESC,
                          g.coarse_id) AS rn
        FROM centf c CROSS JOIN gcentn{i} g) WHERE rn = 1
    ),
    gmean{i + 1} AS (
      SELECT coarse_id, pos,
             (CAST(SUM(CAST(FLOOR(v * {fp_scale}) AS BIGINT)) AS DOUBLE)
                / {float(fp_scale)!r}) / COUNT(*) AS m
      FROM (SELECT coarse_id, unnest(cv) AS v,
                   generate_subscripts(cv, 1) AS pos
            FROM gasg{i + 1})
      GROUP BY coarse_id, pos
    ),
    gcent{i + 1} AS (
      SELECT g.coarse_id, COALESCE(n.gv, g.gv) AS gv
      FROM gcent{i} g
      LEFT JOIN (SELECT coarse_id, list(m ORDER BY pos) AS gv
                 FROM gmean{i + 1} GROUP BY coarse_id) n USING (coarse_id)
    )"""
        )
    parts.append(
        f"""gcentf AS (
      SELECT coarse_id, gv, sqrt(list_dot_product(gv, gv)) AS gnrm
      FROM gcent{coarse_iterations}
    ),
    c2c AS (
      SELECT cell_id, cv, cnrm, coarse_id FROM (
        SELECT c.cell_id, c.cv, c.cnrm, g.coarse_id,
               row_number() OVER (PARTITION BY c.cell_id
                 ORDER BY list_dot_product(c.cv, g.gv) / (c.cnrm * g.gnrm) DESC,
                          g.coarse_id) AS rn
        FROM centf c CROSS JOIN gcentf g) WHERE rn = 1
    ),
    gused AS (
      SELECT g.coarse_id, g.gv, g.gnrm FROM gcentf g
      WHERE EXISTS (SELECT 1 FROM c2c WHERE c2c.coarse_id = g.coarse_id)
    ),
    vg AS (
      SELECT vec_id, coarse_id FROM (
        SELECT s.vec_id, g.coarse_id,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY list_dot_product(s.emb, g.gv) / (s.nrm * g.gnrm) DESC,
                          g.coarse_id) AS rn
        FROM src s CROSS JOIN gused g) WHERE rn = 1
    ),
    af2 AS (
      SELECT vec_id, emb, nrm, cell_id FROM (
        SELECT s.vec_id, s.emb, s.nrm, c.cell_id,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY list_dot_product(s.emb, c.cv) / (s.nrm * c.cnrm) DESC,
                          c.cell_id) AS rn
        FROM src s JOIN vg ON vg.vec_id = s.vec_id
        JOIN c2c c ON c.coarse_id = vg.coarse_id) WHERE rn = 1
    ),
    dup2 AS (
      SELECT id_a, id_b, sim FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS sim
        FROM af2 a JOIN af2 b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id)
      WHERE sim >= {threshold!r}
    )"""
    )
    return ",\n    ".join(parts)


def _semantic_dedup_2l_oracle(
    dim: int = 64,
    n_cells: int = 8,
    iterations: int = 2,
    n_coarse: int = 3,
    threshold: float = 0.4,
) -> str:
    """DuckDB twin of semantic_dedup_clustered(two_level=True): the
    full two-level chain, then the same NOT-EXISTS keep contract as
    the flat clustered oracle."""
    return f"""
    WITH {_two_level_sql(dim, n_cells, iterations, n_coarse, threshold=threshold)},
    drops AS (SELECT DISTINCT id_b AS vec_id FROM dup2)
    SELECT e.vec_id,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM embeddings e LEFT JOIN drops d ON e.vec_id = d.vec_id
    """


@register(
    "semantic_dedup_2l",
    _semantic_dedup_2l_oracle(),
    doc="SemDedup through the cluster gate with the TWO-LEVEL "
    "(coarse-quantizer) full-corpus assignment forced on "
    "(similarity.semantic_dedup_clustered(two_level=True)): √cells "
    "coarse centroids trained over the fine centroids route each "
    "vector in two slim argmax passes (~2·n·√cells cosines) instead "
    "of the flat n·cells — the n^1.25 answer to the n^1.5 "
    "third-decade assignment term (NOTES #75(a)). Same keep contract "
    "as semantic_dedup_clustered; in production the switch engages "
    "automatically past IVF_TWO_LEVEL_MIN_CELLS fine cells, and this "
    "entry forces it at gate scale so the path stays oracle-checked. "
    "The oracle replays fine training, coarse training over the fine "
    "centroids, the cell→group map, and both assignment passes, "
    "unrolled in SQL bit for bit.",
)
def q_semantic_dedup_2l(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.similarity import semantic_dedup_clustered

    return semantic_dedup_clustered(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.4,
        dim=64,
        n_cells=None,
        iterations=2,
        two_level=True,
    )


def _assign_profile_oracle(
    dim: int = 64,
    n_cells: int = 8,
    iterations: int = 2,
    n_coarse: int = 3,
) -> str:
    """Replays the chain through vg (dup2 pruned) and aggregates the
    exact per-shape cosine counts."""
    return f"""
    WITH {_two_level_sql(dim, n_cells, iterations, n_coarse)},
    members AS (
      SELECT coarse_id, CAST(count(*) AS BIGINT) AS m FROM c2c GROUP BY coarse_id
    ),
    ag AS (
      SELECT coarse_id, CAST(count(*) AS BIGINT) AS a FROM vg GROUP BY coarse_id
    ),
    fine AS (
      SELECT CAST(SUM(a * m) AS BIGINT) AS cosines_fine_pass
      FROM ag JOIN members USING (coarse_id)
    ),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM src),
    nu AS (SELECT CAST(count(*) AS BIGINT) AS n_coarse_used FROM gused)
    SELECT n_vectors,
           CAST({n_cells} AS BIGINT) AS n_cells,
           CAST({n_coarse} AS BIGINT) AS n_coarse,
           n_coarse_used,
           CAST(n_vectors * {n_cells} AS BIGINT) AS cosines_flat,
           CAST(n_vectors * n_coarse_used AS BIGINT) AS cosines_coarse_pass,
           cosines_fine_pass,
           CAST(n_vectors * n_coarse_used + cosines_fine_pass AS BIGINT)
             AS cosines_two_level
    FROM nv CROSS JOIN nu CROSS JOIN fine
    """


@register(
    "ivf_assign_profile",
    _assign_profile_oracle(),
    doc="Assignment-cost profile of the IVF gate "
    "(similarity.ivf_assign_profile): the exact cosine counts each "
    "assignment shape pays on THIS corpus with THIS trained geometry — "
    "cosines_flat = n·cells vs cosines_two_level = n·used_groups + "
    "Σ_g assigned(g)·members(g), the fine pass computed from the REAL "
    "coarse assignment counts rather than the balanced expectation "
    "(k-means does not balance groups; a skewed coarse map shows up "
    "here like a hot cell in ivf_cell_profile). Run at sf1/sf10 this "
    "row IS the third-decade measurement NOTES #75(a) called for. "
    "One row; oracle replays the full two-level chain and aggregates.",
)
def q_ivf_assign_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.similarity import ivf_assign_profile

    return ivf_assign_profile(_t(spark, sf_dir, "embeddings"), dim=64, n_cells=None)


def _cluster_gate_recall_2l_oracle(
    dim: int = 64,
    n_cells: int = 8,
    iterations: int = 2,
    n_coarse: int = 3,
    threshold: float = 0.4,
    max_n: int = 4000,
    recall_scale: int = 1_000_000,
) -> str:
    """The wave-32 recall-audit contract pointed at the two-level
    gate: production chain over the full corpus, brute-force truth on
    the md5-ranked subsample."""
    return f"""
    WITH {_two_level_sql(dim, n_cells, iterations, n_coarse, threshold=threshold)},
    samp AS (
      SELECT vec_id FROM src
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {max_n}
    ),
    tp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_true_pairs
      FROM src a JOIN src b ON a.vec_id < b.vec_id
      JOIN samp sa ON sa.vec_id = a.vec_id
      JOIN samp sb ON sb.vec_id = b.vec_id
      WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= {threshold!r}
    ),
    gt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_gated_pairs
      FROM dup2
      JOIN samp sa ON sa.vec_id = dup2.id_a
      JOIN samp sb ON sb.vec_id = dup2.id_b
    ),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM samp)
    SELECT n_vectors, n_true_pairs, n_gated_pairs,
           CASE WHEN n_true_pairs > 0 THEN
             CAST(FLOOR(CAST(n_gated_pairs AS DOUBLE)
                        / CAST(n_true_pairs AS DOUBLE)
                        * {recall_scale}) AS BIGINT) END AS recall_sc
    FROM nv CROSS JOIN tp CROSS JOIN gt
    """


@register(
    "cluster_gate_recall_2l",
    _cluster_gate_recall_2l_oracle(),
    doc="Measured recall of the TWO-LEVEL cluster gate at the dedup "
    "tier's threshold (similarity.cluster_gate_recall_report("
    "two_level=True)) — the wave-32 audit instrument pointed at the "
    "coarse-quantizer assignment, so the recall cost of the n^1.25 "
    "routing (vectors whose true nearest fine cell lives in a "
    "different coarse group) is measured next to the flat gate's "
    "cluster_gate_recall, not assumed. Same contract: production gate "
    "over the full corpus, brute-force truth on the bounded "
    "md5-ranked subsample.",
)
def q_cluster_gate_recall_2l(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.similarity import cluster_gate_recall_report

    return cluster_gate_recall_report(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, two_level=True
    )
