"""Profiler run-metadata stamping + append-sink history (reference
E3: stamp run_id/environment, APPEND to a results table)."""

from __future__ import annotations

import os

import shutil

from pyspark.sql import functions as F

from gcp_dbt_data_engineering_spark import ARTIFACTS_DIR
from gcp_dbt_data_engineering_spark.operators.profile import (
    PROFILE_TABLES,
    SimpleDataProfiler,
)

SF = "/root/testdata/sf0.001"
HIST = os.path.join(ARTIFACTS_DIR, "profile_history")


def test_append_history_accumulates_runs(spark):
    shutil.rmtree(HIST, ignore_errors=True)
    p = SimpleDataProfiler(spark)
    one = p.with_run_metadata(
        p.profile_multiple_tables(PROFILE_TABLES[:1], SF), environment="dev"
    )
    n = one.count()
    assert n > 0
    p.append_history(one, HIST)
    two = p.with_run_metadata(
        p.profile_multiple_tables(PROFILE_TABLES[:1], SF), environment="prod"
    )
    p.append_history(two, HIST)

    hist = spark.read.parquet(HIST)
    assert hist.count() == 2 * n
    assert {r.environment for r in hist.select("environment").distinct().collect()} == {
        "dev",
        "prod",
    }
    # distinct run_id per append
    assert hist.select("run_id").distinct().count() == 2


def test_sample_size_caps_profiled_rows(spark):
    p = SimpleDataProfiler(spark, settings={"sample_size": 10})
    rows = p.profile_multiple_tables(["customer"], SF).collect()
    assert all(r.total_count == 10 for r in rows)


def test_fecha_profiles_one_day(spark):
    """``fecha`` / ``date_column`` profile that day's rows only."""
    from gcp_dbt_data_engineering_spark.sources import load_table

    day = (
        load_table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .count()
        .orderBy(F.desc("count"), "d")
        .first()
    )
    assert day["count"] > 1
    rows = SimpleDataProfiler(spark).profile_multiple_tables(
        ["orders"], SF, fecha=str(day["d"]), date_column="o_orderdate"
    ).collect()
    assert len(rows) == 6
    assert {r.total_count for r in rows} == {day["count"]}
    date = next(r for r in rows if r.column_name == "o_orderdate")
    assert date.min_str == date.max_str == str(day["d"])
    assert date.distinct_count == 1


def test_hash_sample_deterministic_and_unbiased(spark):
    """The sampled subset is a pure function of row values (same rows
    every run) and uniform — NOT the first rows of the first file,
    which is what limit(n) gave: under limit the sampled c_custkey
    set is exactly 1..n; a hash sample of 100 from 1500 hitting only
    ids <= 100 has probability ~(1/15)^100."""
    from gcp_dbt_data_engineering_spark.operators.profile import _hash_sample
    from gcp_dbt_data_engineering_spark.sources import load_table

    cust = load_table(spark, SF, "customer")
    total = cust.count()
    a = sorted(r.c_custkey for r in _hash_sample(cust, 100).collect())
    b = sorted(r.c_custkey for r in _hash_sample(cust, 100).collect())
    assert a == b and len(a) == 100
    assert max(a) > 100  # not a head slice
    # roughly uniform: sample mean within half a std-dev band of the
    # population mid (loose bound, deterministic data so no flake)
    mid = (total + 1) / 2
    assert abs(sum(a) / len(a) - mid) < total * 0.15


def test_console_sink_renders_profile(spark, capsys):
    p = SimpleDataProfiler(spark)
    df = p.profile_multiple_tables(["region"], SF)
    text = p.to_console(df)
    out = capsys.readouterr().out
    assert "column_name" in text and "r_name" in text
    assert "r_name" in out  # actually printed, not just returned
