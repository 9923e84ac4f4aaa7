"""Source/sink format dispatch (csv/json/parquet round-trips) and the
fecha-partitioned layout's partition pruning."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from gcp_dbt_data_engineering_spark import ARTIFACTS_DIR
from gcp_dbt_data_engineering_spark.sources import (
    load_source,
    load_table,
    write_sink,
)

SF = "/root/testdata/sf0.001"
ART = os.path.join(ARTIFACTS_DIR, "sources_test")


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip_formats(spark, fmt):
    path = f"{ART}/nation_{fmt}"
    shutil.rmtree(path, ignore_errors=True)
    src = load_table(spark, SF, "nation")
    write_sink(src, path, fmt=fmt)
    back = load_source(spark, path, fmt=fmt, schema=src.schema)
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_unsupported_format_rejected(spark):
    # avro needs the external spark-avro package — gated, not assumed
    with pytest.raises(ValueError):
        load_source(spark, ART, fmt="avro")
    with pytest.raises(ValueError):
        write_sink(load_table(spark, SF, "nation"), ART, fmt="avro")


def test_fecha_partitioned_write_prunes(spark):
    path = f"{ART}/events_by_day"
    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, SF, "events").withColumn(
        "fecha", F.col("ts").cast("date").cast("string")
    )
    write_sink(ev, path, partition_by=["fecha"])
    days = [d for d in os.listdir(path) if d.startswith("fecha=")]
    assert len(days) > 5  # hive layout, one dir per day

    back = load_source(spark, path).filter(F.col("fecha") == "2024-01-03")
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # the filter must land in PartitionFilters (pruned scan), and the
    # rows must match a non-partitioned filter of the source.
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:200]
    assert "fecha" in pf
    expected = ev.filter(F.col("fecha") == "2024-01-03").count()
    assert back.count() == expected > 0
