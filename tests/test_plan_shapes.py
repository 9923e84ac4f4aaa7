"""Physical-plan shape regression net.

The scale story lives in plan SHAPES — how many shuffles a spec pays,
whether small sides broadcast, that nothing degenerates into a
cartesian product. These budgets pin the measured shape of a
representative spec set at sf0.01 so a future 'works but shuffles
twice as much' change fails loudly. Budgets are (max exchanges,
min broadcasts); counts come from the executed-plan string.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"

#: spec -> (max Exchange nodes, min BroadcastHashJoin nodes)
BUDGETS = {
    # single-pass aggregate over one fact scan: exactly one shuffle
    "pricing_summary": (1, 0),
    "dedup_exact": (1, 0),
    "split_train_val_test": (1, 0),
    # hierarchical greedy pack on two two-phase prefix scans (r5): each
    # scan pays one full-data (part,bucket) exchange + a narrow
    # map-side-partial totals exchange + a tiny offset-stitch exchange
    # + an offsets BroadcastExchange, and the pack/bin rollups add two
    # more — no exchange carries a per-source sequential sort anymore
    "pack_sequences_greedy": (30, 2),
    # star join: every dim side must broadcast
    "revenue_by_region": (5, 4),
    "shipping_priority_top10": (3, 2),
    # 7 FK edges, one scan each + parent distincts: bounded fan-out,
    # all 7 parent sides broadcast at this SF
    "dq_referential_integrity": (21, 7),
    # map explode + per-key agg + countDistinct expand
    "events_props_udtf_stats": (2, 0),
    "text_token_stats": (1, 0),
    # sketch build + empty-bucket fill + exact-distinct rider
    "sketch_hll_distinct_users": (6, 1),
    # benchmark side broadcast, corpus side streams
    "contamination_external_bench": (5, 1),
    # r5: top-k mass now comes from a TakeOrdered limit branch (its own
    # count-agg exchange per key column) instead of a global row_number
    # window — two more exchanges per key, zero single-task sorts
    "events_key_skew_stats": (8, 0),  # 1-row topk attaches as BNLJ, not BHJ
    # round-6 waves: both bucket LMs broadcast, final top-K is a
    # TakeOrdered (asserted below), never a global sort
    "dsir_importance_selection": (10, 2),
    # centroid dim broadcasts; scoring map-side over the _quantized
    # memo, which inherits the staged scan's split (no repartition)
    "embeddings_outlier_audit": (6, 2),
    # histogram threshold broadcasts; boundary window keys (lang, q)
    "token_budget_select": (5, 1),
    # df-filter joins on the 8-byte hash; per-doc island windows
    "dedup_repeated_spans": (7, 1),
    # one tokenizer projection + dedup-hash window + lang agg, no joins
    "curate_corpus_funnel": (2, 0),
    # <=10-bucket conditional agg + broadcast totals
    "dq_psi_drift": (5, 0),
    # one user-partition carrying all three stage minima
    "events_sequential_funnel": (3, 0),
    # round-7 ops
    # two per-set top-k windows + <=2k-row membership agg + 1-row
    # theta/truth sides (attach as BNLJ, not BHJ)
    "sketch_kmv_set_ops": (12, 0),
    # map-side E-S key + TakeOrdered: ZERO exchanges
    "sample_weighted_priority": (0, 0),
    # broadcast count join keeps under-cap domains map-side; only
    # over-cap rows enter the ranking window
    "domain_cap_downsample": (7, 2),
    # shingle relation + one hash window + per-doc agg
    "text_ngram_novelty": (2, 0),
    # daily rollup + per-weekday window over one row per day
    "events_seasonal_baseline": (2, 0),
    # B partial (Σw, Σw·x) pairs per map task; 1-row CI/point sides
    "stats_bootstrap_ci": (5, 0),
    # per-day register build is the only full scan; dense grid,
    # calendar window and truth rider all run over bounded relations
    "sketch_hll_sliding_window": (12, 1),
    # order-keyed self-join (bounded basket fan-out), marginals join
    # broadcast-eligible at this SF, 1-row total
    "basket_part_affinity": (14, 2),
    # two-phase rank: bounds broadcast, per-bucket windows, <=1000-row
    # offset stitch — no global-sort exchange
    "customer_revenue_gini": (14, 1),
    # 60-bit fingerprint, single-SQL compile; one groupBy(doc_id), one
    # 5-chunk candidate join on the banded key
    "dedup_simhash": (5, 0),
    # MinHash signatures are array_min projections over the shingle-set
    # memo (no groupBy(doc_id)); the band self-join + candidate
    # distinct + two verify joins
    "dedup_minhash_lsh": (4, 0),
    # top-V vocab broadcast, doc-keyed self-join, broadcast total
    "text_pmi_cooccurrence": (13, 2),
    # daily rollup + bounded calendar windows
    "events_ewma_volume": (2, 0),
    # cohort-month agg + co-partitioned custkey join + matrix rollup
    "orders_cohort_ltv": (5, 1),
    # daily rollup + two bounded calendar lags + 1-row agg
    "dq_runs_test": (2, 0),
    # r8 densified grid: grouped count + two tiny distinct sides (each
    # its own exchange) + broadcast grid/left joins + windows over the
    # <=15-cell dense relation + COUNT DISTINCT expand in the fold
    "dq_chi2_independence": (8, 1),
}


def _plan(spark, name: str) -> str:
    import __spark_entry__ as e
    from gcp_dbt_data_engineering_spark import clear_caches

    # cold-session shape, deterministically: a warm memoized cache
    # (e.g. _quantized persisted by an earlier similarity test) makes
    # explain() print the InMemoryRelation's full cached lineage,
    # inflating the textual Exchange count with already-executed
    # shuffles — the r10 "8 > 7" failure only reproduced suite-wide.
    clear_caches(spark)
    spec = e._all_specs()[name]
    return (
        spec.spark(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_plan_shape_budget(spark, name):
    p = _plan(spark, name)
    max_exch, min_bcast = BUDGETS[name]
    assert p.count("CartesianProduct") == 0
    got_exch = p.count("Exchange")
    got_bcast = p.count("BroadcastHashJoin")
    assert got_exch <= max_exch, (
        f"{name}: {got_exch} exchanges > budget {max_exch}"
    )
    assert got_bcast >= min_bcast, (
        f"{name}: {got_bcast} broadcast joins < required {min_bcast}"
    )
    assert "Scan parquet" in p or "FileScan" in p  # really reads files


#: specs that read the corpus or events scan, or a memo built from it:
#: the staged scan of ``sources.load_table`` is the one place that
#: splits a source across cores, so none of them may add a
#: RoundRobinPartitioning of its own.
STAGED_SPLIT_SPECS = (
    "boilerplate_chunk_filter",
    "curate_corpus_funnel",
    "dedup_semantic",
    "dsir_importance_selection",
    "embeddings_outlier_audit",
    "events_props_udtf_stats",
    "events_props_variant_stats",
    "similarity_ann_ivf",
    "similarity_ann_ivf_kmeans",
    "similarity_ann_lsh",
    "similarity_pq_adc",
    "similarity_pq_ivf",
    "similarity_topk_cosine",
    "text_bigram_logprob",
    "text_char_entropy",
    "text_gopher_repetition",
    "text_language_id",
    "text_quality_classifier",
    "text_quality_score",
    "text_rake_keywords",
    "text_sentiment_lexicon",
    "text_tfidf_top_terms",
    "text_token_stats",
    "text_unigram_logprob",
    "token_budget_select",
)


def test_no_round_robin_repartition(spark):
    round_robin = [
        name
        for name in STAGED_SPLIT_SPECS
        if "RoundRobinPartitioning" in _plan(spark, name)
    ]
    assert round_robin == []


#: specs rewritten from low-cardinality window partitions (VERDICT r4
#: items 1/2) to two-phase distributed scans: every window over the
#: full-size relation must include the __bkt bucket column in its
#: partition spec; only the tiny offset-stitch windows (over __bn /
#: __bsum partial-count relations) may partition on the raw key.
TWO_PHASE_SPECS = [
    "orders_decile_stats",
    "pack_sequences_chunked",
    "pack_sequences_greedy",
]


@pytest.mark.parametrize("name", TWO_PHASE_SPECS)
def test_no_low_cardinality_window_partition(spark, name):
    p = _plan(spark, name)
    assert "ntile" not in p  # decile rewrite: no ntile window at all
    for line in p.splitlines():
        if "windowspecdefinition" not in line:
            continue
        if "__bsum" in line or "__bn#" in line:
            continue  # offset stitch over the tiny per-bucket relation
        assert "__bkt" in line, (
            f"{name}: full-relation window without bucket column: "
            f"{line.strip()[:160]}"
        )


def test_stats_informed_join_flips_broadcast_decision(spark):
    """VERDICT r5 item 9: registry stats (ANALYZE-equivalent parquet
    footer row/size counts) drive the broadcast decision where Spark's
    own size estimate cannot — the physical join flips from sort-merge
    to broadcast-hash on the SAME query when the stats say the dim is
    small, and stays sort-merge when stats mark it large."""
    from gcp_dbt_data_engineering_spark.sources import (
        collect_table_stats,
        load_table,
        stats_informed_join,
    )

    sf = "/root/testdata/sf0.01"
    stats = collect_table_stats(spark, sf)
    assert stats["orders"]["rows"] > stats["customer"]["rows"] > 0
    assert stats["customer"]["size_bytes"] > 0

    orders = load_table(spark, sf, "orders")
    # a DERIVED dim: post-aggregation relations carry the child's size
    # estimate, so with auto-broadcast off Spark alone would never
    # broadcast it — the stats have to make the call
    dim = (
        load_table(spark, sf, "customer")
        .groupBy("c_custkey")
        .agg({"c_acctbal": "max"})
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def plan(df):
            return df._jdf.queryExecution().executedPlan().toString()

        cold = plan(
            orders.join(dim, orders.o_custkey == dim.c_custkey)
        )
        assert "SortMergeJoin" in cold and "BroadcastHashJoin" not in cold

        hot = plan(
            stats_informed_join(
                orders, dim, orders.o_custkey == dim.c_custkey,
                right_name="customer", stats=stats,
            )
        )
        assert "BroadcastHashJoin" in hot

        # stats marking the side as huge keep the shuffle join
        big = dict(stats)
        big["customer"] = {"rows": 10**10, "size_bytes": 10**13}
        still = plan(
            stats_informed_join(
                orders, dim, orders.o_custkey == dim.c_custkey,
                right_name="customer", stats=big,
            )
        )
        assert "SortMergeJoin" in still
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dsir_topk_is_takeordered(spark):
    """DSIR's final top-K must be a TakeOrderedAndProject (distributed
    partial top-K), never a global Sort + Limit."""
    p = _plan(spark, "dsir_importance_selection")
    assert "TakeOrderedAndProject" in p


def test_runtime_conf_is_modifiable_and_builder_conf_is_not(spark):
    """tune() sets only confs a live session can change; the static and
    core confs live in BUILDER_CONF, which only get_spark applies."""
    from gcp_dbt_data_engineering_spark import session as s

    assert [k for k in s.RUNTIME_CONF if not spark.conf.isModifiable(k)] == []
    assert [k for k in s.BUILDER_CONF if spark.conf.isModifiable(k)] == []
    assert spark.conf.get("spark.speculation") == "true"


def test_get_spark_refuses_a_runtime_conf_tune_would_reset(monkeypatch):
    """``tune`` re-applies RUNTIME_CONF on every table load, so an
    extra_conf that changes a RUNTIME_CONF value could not hold: get_spark
    raises before it builds a session. The engine's own value passes."""
    from gcp_dbt_data_engineering_spark import session as s

    def no_build(*a, **k):
        raise AssertionError("a session was built")

    monkeypatch.setattr(s.SparkSession.Builder, "getOrCreate", no_build)
    with pytest.raises(ValueError, match="RUNTIME_CONF"):
        s.get_spark(extra_conf={"spark.sql.adaptive.enabled": "false"})
    with pytest.raises(AssertionError, match="a session was built"):
        s.get_spark(extra_conf={"spark.sql.adaptive.enabled": "true"})
