"""Snapshot (SCD2, timestamp strategy) materialization semantics.

The reference declares snapshots/ (dbt_project.yml:19) but ships none;
these tests pin the dbt-snapshot contract our materialization supplies:
an update opens a new version and closes the prior one, replaying a
batch is a no-op, and a batch carrying several versions of one key is
deduped to latest-updated_at (never multiple open rows per key).
"""

from __future__ import annotations

import os

import shutil

from pyspark.sql import Row
from pyspark.sql import functions as F

from gcp_dbt_data_engineering_spark import ARTIFACTS_DIR
from gcp_dbt_data_engineering_spark.plans.models import ModelGraph

WH = os.path.join(ARTIFACTS_DIR, "warehouse_snapshot_test")

SNAPSHOT_MODEL: dict[str, str] = {
    "customer_snapshot": """
{{ config(materialized='snapshot', unique_key='cust_id',
          updated_at='updated_at') }}
select * from cust_batch
""",
}


def _run(spark, rows):
    from datetime import datetime

    spark.createDataFrame(
        [
            Row(cust_id=c, status=s, updated_at=datetime.fromisoformat(u))
            for c, s, u in rows
        ],
        "cust_id int, status string, updated_at timestamp_ntz",
    ).createOrReplaceTempView("cust_batch")
    ModelGraph(SNAPSHOT_MODEL, warehouse_dir=WH).run(spark)
    return sorted(
        map(tuple, spark.read.parquet(f"{WH}/customer_snapshot").collect())
    )


def _open_rows(snap):
    return [r for r in snap if r[4] is None]  # valid_to is column 5


def test_snapshot_update_then_replay(spark):
    shutil.rmtree(WH, ignore_errors=True)
    base = _run(
        spark,
        [(1, "bronze", "2024-01-01 00:00:00"),
         (2, "silver", "2024-01-01 00:00:00")],
    )
    assert len(base) == 2 and len(_open_rows(base)) == 2

    # run 2: customer 1 upgrades → prior version closed at the new
    # updated_at, a new open version appears; customer 2 untouched.
    upd = _run(
        spark,
        [(1, "gold", "2024-02-01 00:00:00"),
         (2, "silver", "2024-01-01 00:00:00")],
    )
    assert len(upd) == 3
    open_by_key = {r[0]: r for r in _open_rows(upd)}
    assert set(open_by_key) == {1, 2}
    assert open_by_key[1][1] == "gold"
    closed = [r for r in upd if r[4] is not None]
    assert len(closed) == 1 and closed[0][0] == 1
    assert str(closed[0][4]) == "2024-02-01 00:00:00"

    # run 3: replay of run 2 — equal updated_at is not newer → no-op.
    replay = _run(
        spark,
        [(1, "gold", "2024-02-01 00:00:00"),
         (2, "silver", "2024-01-01 00:00:00")],
    )
    assert replay == upd
    shutil.rmtree(WH, ignore_errors=True)


def test_snapshot_dedups_duplicate_keys_in_batch(spark):
    shutil.rmtree(WH, ignore_errors=True)
    # one batch carries three versions of key 1: only the latest may
    # land, and only one open row per key may ever exist.
    snap = _run(
        spark,
        [(1, "bronze", "2024-01-01 00:00:00"),
         (1, "silver", "2024-03-01 00:00:00"),
         (1, "gold", "2024-02-01 00:00:00")],
    )
    assert len(snap) == 1
    assert snap[0][1] == "silver"  # latest updated_at wins, not last row

    # next run closes that single version exactly once.
    upd = _run(spark, [(1, "platinum", "2024-04-01 00:00:00")])
    assert len(upd) == 2
    assert len(_open_rows(upd)) == 1
    assert _open_rows(upd)[0][1] == "platinum"
    shutil.rmtree(WH, ignore_errors=True)
