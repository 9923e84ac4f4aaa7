"""Semantic-dedup invariants, checked independently of the oracle.

The oracle gate proves Spark == DuckDB; these pin the OPERATOR's
contract with numpy ground truth at sf0.001:

- partition: every vector verdicts exactly once, kept + dropped = all;
- soundness: every dropped vector's ``dup_of`` is a smaller-id
  same-cluster member with cosine >= SEM_COSINE_T (and is the
  smallest such);
- completeness / antichain: no two KEPT members of a cluster are
  within SEM_COSINE_T of each other (under the exists-smaller-id drop
  rule the kept set is exactly the set with no smaller-id ε-neighbour,
  so any ε-close kept pair would contradict the rule);
- fit once: the k-means fit runs once per call, not once per consumer
  of the assigned members.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_dbt_data_engineering_spark.operators.semdedup import (
    SEM_COSINE_T,
    dedup_semantic,
)
from gcp_dbt_data_engineering_spark.operators.similarity import _quantized
from gcp_dbt_data_engineering_spark.session import clear_caches
from gcp_dbt_data_engineering_spark.status import StatusReader

from .conftest import SF_SMOKE


def _ground(spark):
    rows = _quantized(spark, SF_SMOKE).select("vec_id", "q").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.q for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    G = (X @ X.T).astype(np.float64)
    n = np.sqrt(np.diag(G))
    return ids, G / np.outer(n, n)


def test_semdedup_invariants(spark):
    out = dedup_semantic(spark, SF_SMOKE).collect()
    n_total = _quantized(spark, SF_SMOKE).count()
    assert len(out) == n_total
    assert len({r.vec_id for r in out}) == n_total

    ids, cos = _ground(spark)
    pos = {v: i for i, v in enumerate(ids)}
    cid = {r.vec_id: r.cid for r in out}

    dropped = [r for r in out if r.status == "dropped"]
    kept = [r for r in out if r.status == "kept"]
    assert len(dropped) + len(kept) == n_total
    assert all(r.dup_of is None for r in kept)

    for r in dropped:
        # dup_of is the SMALLEST same-cluster ε-neighbour below vec_id
        cands = [
            v
            for v in ids
            if v < r.vec_id
            and cid[int(v)] == r.cid
            and cos[pos[int(v)], pos[r.vec_id]] >= SEM_COSINE_T
        ]
        assert cands and r.dup_of == min(cands), (r, cands[:3])

    for i, a in enumerate(kept):
        for b in kept[i + 1 :]:
            if a.cid == b.cid:
                assert cos[pos[a.vec_id], pos[b.vec_id]] < SEM_COSINE_T


def test_semdedup_no_cartesian(spark):
    plan = dedup_semantic(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def _jobs_of_call(spark) -> tuple[int, DataFrame]:
    """Spark jobs launched by one builder call plus its collect()."""
    reader = StatusReader(spark)
    df = dedup_semantic(spark, SF_SMOKE)
    df.collect()
    return reader.read()["jobs"], df


def test_semdedup_fits_kmeans_once(spark):
    """The fit is materialized once inside the builder; the tile
    counts, the pair kernel and the final join read its k centroid
    rows instead of each replaying the seed TakeOrdered and Lloyd's
    chain."""
    clear_caches(spark)
    _quantized(spark, SF_SMOKE).count()
    prebuilt, df = _jobs_of_call(spark)
    assert prebuilt <= 18, prebuilt
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan

    # building the _quantized memo inside the call adds its own scan,
    # not one re-read per replayed fit
    clear_caches(spark)
    self_built, _ = _jobs_of_call(spark)
    assert self_built - prebuilt <= 6, (self_built, prebuilt)
