"""Physical-plan assertions (the plans we tuned must not regress) and
property-based parity of the portable hash core."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gcp_dbt_data_engineering_spark.operators import texthash as th

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_flagship_joins_are_broadcast_and_pushed(spark):
    from gcp_dbt_data_engineering_spark.plans.analytics import (
        revenue_by_region,
    )

    plan = _plan(revenue_by_region(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the o_orderdate range reaches the parquet scan
    assert "PushedFilters" in plan and "o_orderdate" in plan.split(
        "PushedFilters"
    , 1)[1][:400]


def test_pricing_summary_hash_aggregates(spark):
    from gcp_dbt_data_engineering_spark.plans.analytics import pricing_summary

    plan = _plan(pricing_summary(spark, SF))
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_profiler_distinct_pass_stays_hash_aggregated(spark):
    from gcp_dbt_data_engineering_spark.operators.profile import (
        profile_core_tables,
    )

    plan = _plan(profile_core_tables(spark, SF))
    # the distinct counts run over one narrow (cid, key) long form: the
    # single countDistinct plans as a two-phase HASH aggregate with NO
    # Expand of the input. Every other statistic is a per-table global
    # aggregate (SortAggregate: immutable string min/max buffers) over
    # the scan itself, so no table is round-robined first.
    assert "HashAggregate" in plan
    assert "Expand" not in plan
    assert "RoundRobinPartitioning" not in plan


def test_profiler_warm_work_pin(spark):
    """A warm profile (table handles kept) runs at most 10 jobs and
    writes under 1 MB of shuffle at sf0.01 (9 jobs, 0.47 MB). A melt
    that ships names and statistic buffers with each distinct key, and
    round-robins the small tables first, runs 14 jobs and writes
    3.07 MB."""
    from gcp_dbt_data_engineering_spark.operators.profile import (
        profile_core_tables,
    )
    from gcp_dbt_data_engineering_spark.status import StatusReader

    assert profile_core_tables(spark, SF).toArrow().num_rows == 21
    reader = StatusReader(spark)
    assert profile_core_tables(spark, SF).toArrow().num_rows == 21
    got = reader.read()
    assert got["jobs"] <= 10, got
    assert 0 < got["shuffle_write_b"] < 1_000_000, got


def test_no_cartesian_products_anywhere(spark):
    import __spark_entry__ as e

    for name, fn in sorted(e.queries().items()):
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, name


def test_spec_registry_raises_on_a_broken_module(monkeypatch):
    """A spec module that fails to import must fail the registry, not
    silently drop its specs from every gate."""
    import __spark_entry__ as e

    broken = "gcp_dbt_data_engineering_spark.no_such_module"
    monkeypatch.setattr(e, "SPEC_MODULES", (*e.SPEC_MODULES, broken))
    with pytest.raises(ImportError, match="no_such_module"):
        e._all_specs()


_TEXT = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789 .,!?'-",
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(s=_TEXT)
def test_polyhash_parity_random_strings(spark, s):
    """The portable hash core must agree on arbitrary strings — the
    foundation every dedup/fingerprint oracle rests on."""
    lit = "'" + s.replace("'", "''") + "'"
    spark_h = spark.sql(
        f"SELECT {th.polyhash(lit, 'spark')} AS h"
    ).collect()[0][0]
    duck_h = duckdb.sql(
        f"SELECT {th.polyhash(lit, 'duck')} AS h"
    ).fetchone()[0]
    assert spark_h == duck_h
    assert 0 <= spark_h < th.P


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    s=_TEXT,
    n=st.integers(min_value=2, max_value=5),
)
def test_shingle_hashes_parity_random_strings(spark, s, n):
    """The two-level shingle hash (word-hash fold via nested zip_with
    on the Spark side, indexed lambda on the DuckDB side) must agree
    on arbitrary text and shingle widths — it underpins every dedup /
    contamination / clustering oracle."""
    lit = "'" + s.replace("'", "''") + "'"
    sh = spark.sql(
        f"SELECT {th.shingle_hashes(lit, n, 'spark')} AS hs"
    ).collect()[0][0]
    dh = duckdb.sql(
        f"SELECT {th.shingle_hashes(lit, n, 'duck')} AS hs"
    ).fetchone()[0]
    assert list(sh or []) == list(dh or [])
    assert all(0 <= h < th.P for h in (sh or []))


def test_rollup_cascade_scans_facts_once(spark):
    """The continuous-aggregate cascade must aggregate the fact table
    exactly once; coarser grains come from GROUPING SETS over the
    hourly relation (structural guarantee, not exchange-reuse luck)."""
    from gcp_dbt_data_engineering_spark.plans.windows import (
        events_rollup_cascade,
    )

    df = events_rollup_cascade(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AdaptiveSparkPlan prints final + initial plan: 1 scan each
    assert plan.count("FileScan parquet") <= 2
    assert "Expand" in plan  # the grouping-sets pass over hourly rows


def test_snapshot_diff_is_single_conditional_aggregation(spark):
    """CDC diff (r5 fold): both snapshots come from ONE conditional
    aggregation over the window union — one scan, one key shuffle, NO
    join of any kind (the r4 form pre-aggregated each window and
    full-outer joined: two scans, three shuffles)."""
    from gcp_dbt_data_engineering_spark.plans.analytics import (
        orders_snapshot_diff,
    )

    plan = _plan(orders_snapshot_diff(spark, SF))
    assert "Join" not in plan
    # partial + final of the single aggregate (the explain string may
    # print the tree twice under AdaptiveSparkPlan)
    assert 2 <= plan.count("HashAggregate") <= 4
    assert "CartesianProduct" not in plan


def test_q6_whole_predicate_reaches_scan(spark):
    """Q6 shape: every conjunct (date range, discount band, quantity
    cap) must appear in the parquet PushedFilters — the scan IS the
    query at 100 TB."""
    from gcp_dbt_data_engineering_spark.plans.tpch_shapes import (
        forecast_revenue_delta,
    )

    plan = _plan(forecast_revenue_delta(spark, SF))
    pushed = plan.split("PushedFilters", 1)[1][:600]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col
    assert "HashAggregate" in plan


def test_q7_dims_broadcast_no_sort_merge(spark):
    from gcp_dbt_data_engineering_spark.plans.tpch_shapes import (
        nation_trade_volume,
    )

    plan = _plan(nation_trade_volume(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan


def test_q19_disjunction_splits_to_both_scans(spark):
    """Catalyst must derive the per-side residues of the OR-of-ANDs
    (quantity bands -> lineitem scan, brand/size bands -> part scan)
    and push both; without that the filter only runs post-join."""
    from gcp_dbt_data_engineering_spark.plans.tpch_shapes import (
        disjunctive_brand_revenue,
    )

    plan = _plan(disjunctive_brand_revenue(spark, SF))
    segs = plan.split("PushedFilters")
    assert any("l_quantity" in s[:600] and "Or(" in s[:600] for s in segs[1:])
    assert any("p_brand" in s[:600] and "Or(" in s[:600] for s in segs[1:])


def test_q22_anti_join_with_pruned_build_side(spark):
    from gcp_dbt_data_engineering_spark.plans.tpch_shapes import (
        idle_customer_balance,
    )

    plan = _plan(idle_customer_balance(spark, SF))
    assert "LeftAnti" in plan
    # the recency filter prunes orders BEFORE the anti-join build
    segs = plan.split("PushedFilters")
    assert any("o_orderdate" in s[:400] for s in segs[1:])


def test_bucketed_join_has_no_join_side_exchange(spark):
    """Bucketed layout: the fact-fact sort-merge join must consume the
    bucket distribution directly — a shuffle on either join key means
    the layout metadata was lost."""
    from gcp_dbt_data_engineering_spark.plans.layout import (
        bucketed_orders_revenue,
    )

    plan = _plan(bucketed_orders_revenue(spark, SF))
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_fecha_slice_is_partition_pruned(spark):
    """The daily-slice predicate must land in PartitionFilters (pruned
    at planning time), not in the data filter."""
    from gcp_dbt_data_engineering_spark.plans.layout import (
        events_fecha_partitioned_slice,
    )

    plan = _plan(events_fecha_partitioned_slice(spark, SF))
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "fecha" in seg and "2024-01-15" in seg


def test_contamination_bench_is_broadcast_not_literal(spark):
    """Benchmark membership must be a broadcast relation, not SQL text.

    A literal-array membership makes plan size linear in benchmark
    cardinality (millions of n-grams in a real decontamination suite);
    the broadcast-join plan is constant-size and map-side.
    """
    from unittest import mock

    from gcp_dbt_data_engineering_spark.operators import pipeline as pl

    df = pl.contamination_external_bench(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    big = tuple(f"benchmark phrase row {i} pads out x" for i in range(60))
    with mock.patch.object(pl, "BENCH_PHRASES", pl.BENCH_PHRASES + big):
        plan_big = _plan(pl.contamination_external_bench(spark, SF))
    # 10x the benchmark must not grow the compiled plan text
    assert len(plan_big) < len(plan) * 1.5


def test_sketch_plans_stay_hash_aggregated_and_broadcast(spark):
    """Round-3 sketch plans: the register/counter builds must stay
    map-side-combinable HashAggregates, and every probe joins against
    a BROADCAST of the sketch state (KB-sized by construction)."""
    from gcp_dbt_data_engineering_spark.operators.sketch import SPECS

    hll = _plan(SPECS["sketch_hll_distinct_users"].spark(spark, SF))
    assert "HashAggregate" in hll and "CartesianProduct" not in hll
    bloom = _plan(SPECS["sketch_bloom_customer_filter"].spark(spark, SF))
    assert "BroadcastHashJoin" in bloom  # probe vs 128-word filter
    assert "SortMergeJoin" not in bloom
    cm = _plan(SPECS["sketch_countmin_heavy_users"].spark(spark, SF))
    assert "BroadcastHashJoin" in cm  # probes vs 1536-row counters


def test_ppjoin_candidate_filters_in_join(spark):
    """The PPJoin size+position prunes must run as Filter over the
    prefix equi-join (no extra joins for the size lookup)."""
    from gcp_dbt_data_engineering_spark.operators import texthash as th
    from gcp_dbt_data_engineering_spark.operators.dedup import (
        SHINGLE_N,
        _ppjoin_candidates,
        _rank_shingle_frame,
    )
    from gcp_dbt_data_engineering_spark.sources import load_table

    # fresh, un-memoized shingle frame: the session-level persist memos
    # (shingle + ranked index) change cached-statistics-driven join
    # strategy choices and therefore plan-string node counts depending
    # on which tests ran first; the structural claim under test is
    # about the PLAN SHAPE, so build it from an uncached frame.
    sh = (
        load_table(spark, SF, "documents")
        .selectExpr(
            "doc_id",
            f"{th.shingle_hashes('text', SHINGLE_N, 'spark')} AS hs",
        )
        .selectExpr("doc_id", "explode(hs) AS h")
        .distinct()
    )
    plan = _plan(_ppjoin_candidates(_rank_shingle_frame(sh)))
    # joins: freq⋈sh (appears on both self-join sides) + the self-join
    # on h = 3 physical joins; formatted mode mentions each node twice
    # (tree + details), so the string count is ≤ 6. na/nb/ra/rb must
    # ride the prefix rows - any size-lookup join would push this up.
    assert "CartesianProduct" not in plan
    assert (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
    ) <= 6


def test_zorder_scan_reads_clustered_layout(spark):
    """The z-order spec must answer from the materialized clustered
    layout, not the raw table."""
    from gcp_dbt_data_engineering_spark.plans.layout import (
        events_zorder_locality,
    )

    plan = _plan(events_zorder_locality(spark, SF))
    assert "events_zorder" in plan  # staged layout path in the scan
