"""Dedup operators vs the DuckDB oracle at sf0.01 — the sf the driver
gate uses, and the smallest sf where the generator plants near-dups.

Beyond bit-parity (test_analytics_oracle covers every spec at the
default sf), these tests assert *content*: the planted near-duplicate
pairs are actually recovered, and MinHash-LSH recall vs the exact
n-gram-Jaccard join is high.
"""

from __future__ import annotations

import pytest

from gcp_dbt_data_engineering_spark.operators.dedup import SPECS

from .oracle_harness import compare

SF = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", sorted(SPECS))
def test_dedup_oracle_sf001(spark, name):
    spec = SPECS[name]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res


def test_near_dup_pairs_found(spark):
    exact = {
        (r.doc_a, r.doc_b)
        for r in SPECS["dedup_ngram_jaccard"].spark(spark, SF).collect()
    }
    assert len(exact) >= 10, "generator plants ~25 near-dup pairs at sf0.01"

    lsh = {
        (r.doc_a, r.doc_b)
        for r in SPECS["dedup_minhash_lsh"].spark(spark, SF).collect()
    }
    assert lsh <= exact or len(lsh - exact) <= len(lsh) // 2
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"MinHash-LSH recall {recall:.2f} too low"

    sim = {
        (r.doc_a, r.doc_b)
        for r in SPECS["dedup_simhash"].spark(spark, SF).collect()
    }
    sim_recall = len(sim & exact) / len(exact)
    assert sim_recall >= 0.6, f"SimHash recall {sim_recall:.2f} too low"


def test_embedding_near_dup_nonempty(spark):
    rows = SPECS["dedup_embedding_cosine"].spark(spark, SF).collect()
    assert all(r.vec_a < r.vec_b for r in rows)
    assert all(r.cosine >= 0.4 for r in rows)


def test_ppjoin_prefix_defuses_hot_shingle(spark):
    """A boilerplate shingle in 30% of docs must NOT explode the join.

    Naive inverted-index candidate generation on this corpus yields
    C(18,2) = 153 pairs from the hot shingle alone; the PPJoin prefix
    (global order by document frequency) excludes it from every doc's
    prefix, so candidate output is empty — and exact recall is intact,
    because no pair here reaches Jaccard 0.8.
    """
    from pyspark.sql import functions as F

    from gcp_dbt_data_engineering_spark.operators.dedup import (
        _ppjoin_candidates,
        _rank_shingle_frame,
    )

    hot = 999
    rows = [
        (d, (d + 1) * 10**6 + j)  # 10 unique shingles per doc
        for d in range(60)
        for j in range(10)
    ] + [(d, hot) for d in range(18)]  # hot shingle in 30% of docs
    sh = spark.createDataFrame(rows, "doc_id int, h long")

    naive = (
        sh.alias("a")
        .join(sh.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .count()
    )
    assert naive == 18 * 17 // 2  # the skew bomb the prefix must defuse
    assert _ppjoin_candidates(_rank_shingle_frame(sh)).count() == 0


def test_ppjoin_matches_naive_join(spark):
    """PPJoin-filtered output == naive inverted-index output (exact)."""
    from pyspark.sql import functions as F

    from gcp_dbt_data_engineering_spark.operators.dedup import (
        JACCARD_T,
        SPECS,
        _shingle_rows,
    )

    sh = _shingle_rows(spark, SF)
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    naive = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in inter.join(sz.selectExpr("doc_id AS doc_a", "n AS na"), "doc_a")
        .join(sz.selectExpr("doc_id AS doc_b", "n AS nb"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard",
        )
        .filter(F.col("jaccard") >= JACCARD_T)
        .collect()
    }
    ppjoin = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in SPECS["dedup_ngram_jaccard"].spark(spark, SF).collect()
    }
    assert ppjoin == naive and len(naive) >= 10


def test_containment_mutual_pairs_are_jaccard_pairs(spark):
    """Provable cross-operator invariant: if C(A→B) >= 0.9 AND
    C(B→A) >= 0.9 then i >= 0.9*max(na, nb), so
    J = i/(na+nb-i) >= 0.9/(2-0.9) ≈ 0.818 > 0.8 — every MUTUAL
    containment pair must appear in the Jaccard-0.8 join. Catches a
    broken candidate stage in either operator."""
    pairs = {
        (r.contained_doc, r.container_doc): r.containment
        for r in SPECS["dedup_containment"].spark(spark, SF).collect()
    }
    assert pairs, "generator plants near-dups at sf0.01"
    assert all(v >= 0.9 for v in pairs.values())
    jac = {
        (r.doc_a, r.doc_b)
        for r in SPECS["dedup_ngram_jaccard"].spark(spark, SF).collect()
    }
    mutual = {
        (min(a, b), max(a, b))
        for (a, b) in pairs
        if (b, a) in pairs
    }
    assert mutual, "corpus has symmetric near-dups"
    assert mutual <= jac


def test_containment_never_broadcasts_full_shingle_rows(spark):
    """The containment candidate join streams every doc's FULL
    exploded shingle set. Its size estimate comes from the set memo
    and misses the explode fan-out, so the join is pinned to a
    sort-merge join on h instead of a broadcast of (doc_b, h)."""
    import re

    from gcp_dbt_data_engineering_spark.session import clear_caches

    clear_caches(spark)
    df = SPECS["dedup_containment"].spark(spark, SF)
    df.collect()  # the final adaptive plan, not the initial one
    plan = df._jdf.queryExecution().executedPlan().toString()
    smj_on_h = r"SortMergeJoin \[h#\d+L\], \[h#\d+L\], Inner"
    assert re.search(smj_on_h, plan), plan
    clear_caches(spark)


def test_embedding_cosine_hot_label_tiled(spark):
    """A label holding 50 % of all vectors must still produce exactly
    the brute-force pair set, with every applyInPandas tile bounded —
    the r5 Gram-tiling contract (no O(b^2) single task)."""
    import numpy as np

    from pyspark.sql import functions as F

    from gcp_dbt_data_engineering_spark.operators.dedup import (
        COSINE_T,
        embedding_cosine_pairs,
    )

    rng = np.random.default_rng(7)
    n, dim = 400, 8
    labels = ["hot" if i < n // 2 else f"c{i % 7}" for i in range(n)]
    base = rng.integers(-100, 100, size=(4, dim))
    rows = [
        (
            i,
            labels[i],
            [int(v) for v in base[i % 4] + rng.integers(-3, 3, size=dim)],
        )
        for i in range(n)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, q array<bigint>"
    )
    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_cosine_pairs(emb, tile=32).collect()
    }
    # brute force reference
    by_label: dict[str, list] = {}
    for i, lab, q in rows:
        by_label.setdefault(lab, []).append((i, np.array(q, dtype=np.int64)))
    want = {}
    for vs in by_label.values():
        for ai in range(len(vs)):
            for bi in range(ai + 1, len(vs)):
                (ia, qa), (ib, qb) = vs[ai], vs[bi]
                cos = float(qa @ qb) / (
                    np.sqrt(float(qa @ qa)) * np.sqrt(float(qb @ qb))
                )
                if cos >= COSINE_T:
                    want[(min(ia, ib), max(ia, ib))] = cos
    assert set(got) == set(want)
    # the hot label must have fanned out into multiple tiles
    counts = emb.groupBy("label").count().collect()
    assert max(c["count"] for c in counts) // 32 >= 2


def test_embedding_cosine_strided_ids_stay_balanced(spark):
    """ADVICE r5: ids that are all multiples of the chunk count must
    NOT collapse into one chunk (raw ``vec_id % m`` does exactly that,
    restoring the O(b^2) single hot task). Asserts (a) exact pairs on
    a strided-id corpus and (b) the chunk assignment actually used by
    the operator spreads those ids across chunks."""
    import numpy as np

    from pyspark.sql import functions as F

    from gcp_dbt_data_engineering_spark.operators.dedup import (
        COSINE_CHUNK_EXPR,
        COSINE_T,
        embedding_cosine_pairs,
    )

    rng = np.random.default_rng(11)
    n, dim, tile = 256, 8, 32
    m = (n + tile - 1) // tile  # chunk count of the single hot label
    base = rng.integers(-100, 100, size=(4, dim))
    # worst case for raw mod: every id ≡ 0 (mod m)
    rows = [
        (
            i * m,
            "hot",
            [int(v) for v in base[i % 4] + rng.integers(-3, 3, size=dim)],
        )
        for i in range(n)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, q array<bigint>"
    )
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_cosine_pairs(emb, tile=tile).collect()
    }
    want = set()
    vs = [(i, np.array(q, dtype=np.int64)) for i, _, q in rows]
    for ai in range(len(vs)):
        for bi in range(ai + 1, len(vs)):
            (ia, qa), (ib, qb) = vs[ai], vs[bi]
            cos = float(qa @ qb) / (
                np.sqrt(float(qa @ qa)) * np.sqrt(float(qb @ qb))
            )
            if cos >= COSINE_T:
                want.add((min(ia, ib), max(ia, ib)))
    assert got == want and len(want) >= 10
    # chunk-balance: the operator's own assignment expression must
    # spread the strided ids — no chunk may hold more than 2x its
    # uniform share (raw mod would put ALL n ids in chunk 0)
    sizes = [
        r["cnt"]
        for r in emb.withColumn("m", F.lit(m))
        .selectExpr(f"{COSINE_CHUNK_EXPR} AS c")
        .groupBy("c")
        .agg(F.count("*").alias("cnt"))
        .collect()
    ]
    assert len(sizes) == m
    assert max(sizes) <= 2 * (n // m)


def test_simhash_leaves_no_temp_views(spark):
    """ADVICE r7: dedup_simhash used a fixed session-global temp view,
    overwritten by interleaved calls and leaked afterward. It now uses
    a per-call unique name and drops it before returning — and the
    returned (lazy) DataFrame still executes, because spark.sql
    resolved the view at analysis time."""
    from gcp_dbt_data_engineering_spark.operators.dedup import (
        dedup_simhash,
    )

    before = {t.name for t in spark.catalog.listTables()}
    df1 = dedup_simhash(spark, SF)
    df2 = dedup_simhash(spark, SF)  # interleaved second call
    after = {t.name for t in spark.catalog.listTables()}
    assert not {n for n in after - before if "simhash" in n}
    # both lazily-built frames still execute after the views dropped
    assert df1.count() == df2.count()


def _independent_shingle_rows(spark):
    """Distinct (doc_id, h) rows built straight from the documents
    table with explode + distinct — the reference the shingle-set memo
    and everything derived from it must reproduce exactly."""
    from pyspark.sql import functions as F

    from gcp_dbt_data_engineering_spark.operators import texthash as th
    from gcp_dbt_data_engineering_spark.operators.dedup import SHINGLE_N
    from gcp_dbt_data_engineering_spark.sources import load_table

    hs = th.shingle_hashes("text", SHINGLE_N, "spark")
    return (
        load_table(spark, SF, "documents")
        .selectExpr("doc_id", f"{hs} AS hs")
        .select("doc_id", F.explode("hs").alias("h"))
        .distinct()
    )


def test_shingle_sizes_memo_exact_and_invalidated(spark):
    """The per-doc shingle sizes are projected from the one persisted
    shingle-set memo (_graft_shingle_set_cache) instead of
    re-aggregated by every consumer. They must equal an independent
    explode + distinct + groupBy aggregate exactly, read the same
    memo handle on a second call, and be dropped by clear_caches like
    every derived memo."""
    from pyspark.sql import functions as F

    from gcp_dbt_data_engineering_spark.operators.dedup import (
        _shingle_rows,
        _shingle_sets,
        _shingle_sizes,
    )
    from gcp_dbt_data_engineering_spark.session import clear_caches

    clear_caches(spark)
    sets = _shingle_sets(spark, SF)
    direct_rows = _independent_shingle_rows(spark)
    direct = direct_rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    sizes = _shingle_sizes(spark, SF).collect()
    got = {(r["doc_id"], r["n"]) for r in sizes}
    want = {(r["doc_id"], r["n"]) for r in direct.collect()}
    assert got == want and len(got) > 0
    rows = _shingle_rows(spark, SF).collect()
    want_rows = direct_rows.collect()
    assert {tuple(r) for r in rows} == {tuple(r) for r in want_rows}
    assert _shingle_sets(spark, SF) is sets  # memo hit
    assert sets.is_cached
    for derived in (_shingle_sizes(spark, SF), _shingle_rows(spark, SF)):
        plan = derived._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
    clear_caches(spark)
    assert "_graft_shingle_set_cache" not in spark.__dict__


def test_shingle_sets_verify_matches_row_join(spark):
    """r12 optimization: exact verification joins per-doc shingle
    ARRAYS (_shingle_sets + array_intersect) instead of exploding
    every candidate pair into pair x shingle rows and re-aggregating.
    The array relation must equal a direct set aggregation, the
    array-verified Jaccard pairs must equal the row-join reference
    bit-for-bit, and the memo must be a session.memo entry that
    clear_caches drops."""
    from pyspark.sql import functions as F

    from gcp_dbt_data_engineering_spark.operators.dedup import (
        JACCARD_T,
        _jaccard_pairs,
        _ppjoin_candidates,
        _ranked_shingles,
        _shingle_rows,
        _shingle_sets,
    )
    from gcp_dbt_data_engineering_spark.session import clear_caches

    sets = _shingle_sets(spark, SF)
    direct = (
        _independent_shingle_rows(spark)
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("h")).alias("hs"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    got = {
        (r["doc_id"], tuple(r["hs"]), r["n"]) for r in sets.collect()
    }
    want = {
        (r["doc_id"], tuple(r["hs"]), r["n"]) for r in direct.collect()
    }
    assert got == want and len(got) > 0
    assert all(len(set(hs)) == n == len(hs) for _, hs, n in got)

    # array-intersect verification == row-join reference, bit-for-bit
    pairs = _ppjoin_candidates(_ranked_shingles(spark, SF))
    sh = _shingle_rows(spark, SF)
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    ref = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
        .join(
            sets.selectExpr("doc_id AS doc_a", "n AS na"), "doc_a"
        )
        .join(
            sets.selectExpr("doc_id AS doc_b", "n AS nb"), "doc_b"
        )
        .selectExpr(
            "doc_a", "doc_b",
            "CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard",
        )
        .filter(F.col("jaccard") >= JACCARD_T)
    )
    got_pairs = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in _jaccard_pairs(pairs, sets, JACCARD_T).collect()
    }
    want_pairs = {
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in ref.collect()
    }
    assert got_pairs == want_pairs and len(got_pairs) > 0

    assert _shingle_sets(spark, SF) is sets  # memo hit
    assert sets.is_cached
    stats = sets._jdf.queryExecution().optimizedPlan().stats()
    assert stats.rowCount().isDefined()  # materialized at creation
    clear_caches(spark)
    assert "_graft_shingle_set_cache" not in spark.__dict__


def test_shingle_memos_materialized_with_accurate_stats(spark):
    """r12 optimization: the shingle memos are materialized AT CREATION
    (df.count() after persist), so every downstream plan sees the
    InMemoryRelation's ACCURATE size instead of the child plan's
    estimate. The lazy form under-estimated the 26M-row sf10 relation
    below the broadcast threshold and the containment verify chain
    broadcast the FULL shingle table twice per execution (919
    exec-seconds per warm pass; an OOM at 100 TB). Both memos left —
    the shingle sets and the ranked prefix index — carry it."""
    from gcp_dbt_data_engineering_spark.operators.dedup import (
        _ranked_shingles,
        _shingle_sets,
    )
    from gcp_dbt_data_engineering_spark.session import clear_caches

    clear_caches(spark)
    for memo_df in (_shingle_sets(spark, SF), _ranked_shingles(spark, SF)):
        # materialized at creation: cached rowCount is KNOWN to the
        # planner (lazy persist leaves rowCount undefined until some
        # action runs)
        stats = memo_df._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().isDefined(), "memo not materialized"
        assert int(str(stats.rowCount().get())) == memo_df.count() > 0
    clear_caches(spark)


def test_simhash_keeps_shingle_memo_cached(spark):
    """dedup_simhash reads the shingle-set memo and never evicts it.
    Its temp view once held the memo's own plan, and dropTempView
    uncaches a view's plan: simhash then re-hashed the documents from
    parquet, and so did every later shingle consumer, while
    ``is_cached`` still said True."""
    from gcp_dbt_data_engineering_spark.operators.dedup import (
        _shingle_rows,
        dedup_simhash,
    )
    from gcp_dbt_data_engineering_spark.session import clear_caches

    clear_caches(spark)
    sim = dedup_simhash(spark, SF)
    for df in (sim, _shingle_rows(spark, SF)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
    clear_caches(spark)
