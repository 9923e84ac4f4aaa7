"""Semantic deduplication (SemDeDup-style) over the ``embeddings``
table.

The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication" — public arXiv
2303.09540): embed the corpus, k-means-cluster the embeddings, and
within each cluster drop all but one member of every group of
ε-cosine-similar vectors. Pairwise similarity is only ever computed
INSIDE a cluster, which is what makes the method tractable at
web scale — the clustering is the candidate generator.

This module composes two already-oracle-proven kernels rather than
introducing new numerics:

- the zero-collect Lloyd's k-means + broadcast-centroid argmin
  assignment from ``similarity.py`` (the IVF coarse quantizer),
- the tiled exact int64 Gram pair kernel from ``dedup.py``
  (``embedding_cosine_pairs``), re-keyed by the learned cluster id
  instead of the table's ``label`` column, so every task stays
  bounded to <= 2·COSINE_TILE vectors no matter how hot a cluster is.

Drop rule (deterministic, order-free): a vector is dropped iff some
SMALLER-id member of its cluster has cosine >= SEM_COSINE_T to it;
its representative is the smallest such id. This is the standard
"keep the first occurrence" tie-break expressed as a set predicate —
both engines evaluate it identically with no sequential scan.

Scale posture (100 TB): k is fixed at the shared K_CLUSTERS here so
the oracle replays the identical fit; in production k grows with the
corpus (SemDeDup uses ~sqrt(n) clusters) so per-cluster pair work
stays ~constant, and the tiling bounds any single task regardless of
cluster skew. The fit runs once per call (``_kmeans_cents_df``
returns a materialized k-row centroid relation, never collected to
the driver), so the tile counts, the pair kernel and the final join
each pay only the map-only assignment over a broadcast of it; the only
shuffles are the k x dim recenter aggregate inside the fit and the
(cluster, tile) pair grouping.

Reference parity: the reference repo has no vector surface at all —
this is [EXT] LLM-pipeline coverage (SURVEY.md §2.6 F8 family), same
contract as ``dedup.py``/``similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.spec import QuerySpec
from .dedup import COSINE_T, embedding_cosine_pairs
from .similarity import (
    _FINAL_A,
    _FINAL_C,
    _SQL_QUANTIZED,
    DIM,
    K_CLUSTERS,
    KM_ITERS,
    _assign_cids,
    _cosine,
    _kmeans_cents_df,
    _quantized,
    _sql_kmeans_seed_cte,
    _sql_lloyd_iteration,
)

#: semantic-duplicate threshold. Must be >= dedup.COSINE_T because the
#: tiled pair kernel prunes below that floor before this filter runs.
#: (At the synthetic corpus's near-orthogonal geometry 0.4 drops ~4 %
#: of vectors at sf0.01; production SemDeDup on real embeddings uses
#: much higher τ — the knob, not the shape, changes.)
SEM_COSINE_T = 0.4

assert SEM_COSINE_T >= COSINE_T


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full per-vector semantic-dedup verdict: (vec_id, cid, status,
    dup_of) — ``status`` 'kept'/'dropped', ``dup_of`` the smallest
    same-cluster vec_id with cosine >= SEM_COSINE_T (NULL when kept).
    """
    base = _quantized(spark, sf_dir)
    cents = _kmeans_cents_df(base, K_CLUSTERS, KM_ITERS)
    members = _assign_cids(base, cents, extra_cols=("vec_id", "q"))

    pairs = embedding_cosine_pairs(
        members.selectExpr("CAST(cid AS INT) AS label", "vec_id", "q")
    )
    dropped = (
        pairs.filter(F.col("cosine") >= F.lit(SEM_COSINE_T))
        .groupBy("vec_b")
        .agg(F.min("vec_a").alias("dup_of"))
    )
    return (
        members.join(dropped, members.vec_id == dropped.vec_b, "left")
        .select(
            members.vec_id,
            F.col("cid"),
            F.when(F.col("dup_of").isNotNull(), F.lit("dropped"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.col("dup_of"),
        )
    )


ORACLE_SEMANTIC = f"""
WITH {_SQL_QUANTIZED},
{_sql_kmeans_seed_cte(K_CLUSTERS)},
{",".join(_sql_lloyd_iteration(t + 1, f"c{t}") for t in range(KM_ITERS))},
{_FINAL_A} AS (
  SELECT vec_id, cid FROM (
    SELECT q.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             list_reduce(list_transform(generate_series(1, {DIM}),
               i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])),
               (x, y) -> x + y) ASC,
             c.cid ASC) AS rn
    FROM qn q CROSS JOIN {_FINAL_C} c)
  WHERE rn = 1),
pairs AS (
  SELECT y.vec_id AS vb, x.vec_id AS va,
         {_cosine(
             "list_reduce(list_transform(generate_series(1, len(a.qv)),"
             " i -> a.qv[i] * b.qv[i]), (s, t) -> s + t)",
             "a.nn", "b.nn")} AS cosine
  FROM {_FINAL_A} x
  JOIN {_FINAL_A} y ON x.cid = y.cid AND x.vec_id < y.vec_id
  JOIN qn a ON a.vec_id = x.vec_id
  JOIN qn b ON b.vec_id = y.vec_id),
dropped AS (
  SELECT vb AS vec_id, MIN(va) AS dup_of
  FROM pairs WHERE cosine >= {SEM_COSINE_T}
  GROUP BY vb)
SELECT m.vec_id, m.cid,
       CASE WHEN d.vec_id IS NULL THEN 'kept' ELSE 'dropped' END AS status,
       d.dup_of
FROM {_FINAL_A} m LEFT JOIN dropped d ON d.vec_id = m.vec_id
"""


SPECS = {
    "dedup_semantic": QuerySpec(
        "dedup_semantic",
        dedup_semantic,
        ORACLE_SEMANTIC,
        "SemDeDup: k-means clusters as the candidate generator, tiled "
        "exact intra-cluster cosine, keep-first drop rule",
        # the builder fits k-means (a Spark action); the returned frame
        # reads the materialized centroids
        eager=True,
    ),
}
