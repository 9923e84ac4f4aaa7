"""Incremental (partition-overwrite) materialization: sliced runs +
an overlapping re-run must converge to the one-shot aggregate."""

from __future__ import annotations

import os

from gcp_dbt_data_engineering_spark import ARTIFACTS_DIR
from gcp_dbt_data_engineering_spark.plans.models import (
    SPECS,
    model_incremental_daily_revenue,
)

from .oracle_harness import compare

SF = "/root/testdata/sf0.01"
WH = os.path.join(ARTIFACTS_DIR, "warehouse_incr_test")


def test_incremental_matches_oneshot_oracle(spark):
    spec = SPECS["model_incremental_daily_revenue"]
    df = model_incremental_daily_revenue(spark, SF, warehouse_dir=WH)
    res = compare(df, spec.oracle, SF)
    assert res["match"], res


def test_incremental_layout_is_partitioned(spark):
    model_incremental_daily_revenue(spark, SF, warehouse_dir=WH)
    parts = sorted(
        d
        for d in os.listdir(f"{WH}/daily_event_revenue")
        if d.startswith("event_date=")
    )
    assert len(parts) == 30  # one dir per January day present in events
    assert parts[0] == "event_date=2024-01-01"


def test_overlapping_rerun_is_idempotent(spark):
    from pyspark.sql import functions as F

    from gcp_dbt_data_engineering_spark.plans.models import (
        INCREMENTAL_MODEL,
        ModelGraph,
    )
    from gcp_dbt_data_engineering_spark.sources import register_all

    df1 = model_incremental_daily_revenue(spark, SF, warehouse_dir=WH)
    n1 = df1.count()
    # re-run one mid-month slice into the SAME warehouse (no reset):
    # dynamic partition overwrite must replace, never append.
    events = register_all(spark, SF, tables=("events",))["events"]
    events.filter(
        (F.col("ts") >= F.lit("2024-01-14").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2024-01-16").cast("timestamp_ntz"))
    ).createOrReplaceTempView("events_batch")
    ModelGraph(INCREMENTAL_MODEL, warehouse_dir=WH).run(spark)
    assert spark.read.parquet(f"{WH}/daily_event_revenue").count() == n1


def test_merge_replay_is_idempotent(spark):
    """Re-running the same keyed batch must not change the table."""
    from gcp_dbt_data_engineering_spark.plans.models import (
        MERGE_MODEL,
        ModelGraph,
    )
    from gcp_dbt_data_engineering_spark.sources import register_all
    from pyspark.sql import functions as F
    import shutil

    wh = os.path.join(ARTIFACTS_DIR, "warehouse_merge_test")
    shutil.rmtree(wh, ignore_errors=True)
    orders = register_all(spark, SF, tables=("orders",))["orders"]
    graph = ModelGraph(MERGE_MODEL, warehouse_dir=wh)

    def run_batch(lo, hi):
        orders.filter(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp_ntz"))
        ).createOrReplaceTempView("orders_batch")
        graph.run(spark)
        return sorted(
            map(tuple, spark.read.parquet(f"{wh}/customer_order_state").collect())
        )

    base = run_batch("1995-01-01", "1998-01-01")
    upserted = run_batch("1998-01-01", "2002-01-01")
    replayed = run_batch("1998-01-01", "2002-01-01")
    assert upserted == replayed
    # keys never shrink: every customer from the base batch survives
    base_keys = {r[0] for r in base}
    assert base_keys <= {r[0] for r in upserted}
    shutil.rmtree(wh, ignore_errors=True)
