"""Crash-safety of the stateful-materialization directory swap.

The naive ``rmtree(path); rename(staging, path)`` swap the merge and
snapshot materializations used through round 8 had a data-loss window:
a crash between the two calls leaves no table at ``path``, and the
NEXT merge run would see no prior state and silently treat its batch
as the full table — permanent loss of every other key. ``_swap_in`` +
``_recover_swap`` (plans/models.py) close that window: the current
snapshot is parked at ``__old`` before staging is promoted, and every
crash point maps to exactly one deterministic recovery rule keyed on
what survives on disk (``_SUCCESS`` marks a complete staging).

Covers: each recovery rule as a pure-filesystem state machine, plus an
end-to-end crash INJECTED INTO A REAL MERGE RUN (os.rename raises
mid-swap) with the recovered table proven equal to a never-crashed
run of the same batches.
"""

from __future__ import annotations

import os
import shutil

import pytest

from gcp_dbt_data_engineering_spark import ARTIFACTS_DIR
from gcp_dbt_data_engineering_spark.plans.models import (
    _recover_swap,
    _swap_in,
)

SF = "/root/testdata/sf0.01"


def _mkdir_table(path: str, marker: str, success: bool = True) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.parquet"), "w") as f:
        f.write(marker)
    if success:
        open(os.path.join(path, "_SUCCESS"), "w").close()


def _marker(path: str) -> str:
    with open(os.path.join(path, "part-00000.parquet")) as f:
        return f.read()


@pytest.fixture
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def test_recover_noop_when_table_intact(tdir):
    """Rule 1: path exists → stale intermediates are dropped, table kept."""
    _mkdir_table(tdir, "current")
    _mkdir_table(f"{tdir}__staging", "stale-staging")
    _mkdir_table(f"{tdir}__old", "stale-old")
    _recover_swap(tdir)
    assert _marker(tdir) == "current"
    assert not os.path.exists(f"{tdir}__staging")
    assert not os.path.exists(f"{tdir}__old")


def test_recover_rolls_forward_complete_staging(tdir):
    """Rule 2: crash between the renames → _SUCCESS staging promotes."""
    _mkdir_table(f"{tdir}__staging", "new-snapshot", success=True)
    _mkdir_table(f"{tdir}__old", "prior-snapshot")
    _recover_swap(tdir)
    assert _marker(tdir) == "new-snapshot"
    assert not os.path.exists(f"{tdir}__old")
    assert not os.path.exists(f"{tdir}__staging")


def test_recover_rolls_back_partial_staging(tdir):
    """Rule 3: crash mid-write (no _SUCCESS) → partial staging dropped,
    the parked prior snapshot restores."""
    _mkdir_table(f"{tdir}__staging", "partial-write", success=False)
    _mkdir_table(f"{tdir}__old", "prior-snapshot")
    _recover_swap(tdir)
    assert _marker(tdir) == "prior-snapshot"
    assert not os.path.exists(f"{tdir}__staging")


def test_swap_in_replaces_and_cleans(tdir):
    _mkdir_table(tdir, "v1")
    _mkdir_table(f"{tdir}__staging", "v2")
    _swap_in(tdir, f"{tdir}__staging")
    assert _marker(tdir) == "v2"
    assert not os.path.exists(f"{tdir}__old")
    assert not os.path.exists(f"{tdir}__staging")


def test_swap_in_first_materialization(tdir):
    """No prior snapshot: staging simply promotes."""
    _mkdir_table(f"{tdir}__staging", "v1")
    _swap_in(tdir, f"{tdir}__staging")
    assert _marker(tdir) == "v1"


def _run_merge_batch(spark, graph, orders, wh, lo, hi):
    from pyspark.sql import functions as F

    orders.filter(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp_ntz"))
    ).createOrReplaceTempView("orders_batch")
    graph.run(spark)
    return sorted(
        map(
            tuple,
            spark.read.parquet(f"{wh}/customer_order_state").collect(),
        )
    )


def test_merge_survives_crash_mid_swap(spark, monkeypatch):
    """End-to-end: kill the process (simulated) BETWEEN the two swap
    renames of a real merge run; the rerun must recover the staged
    snapshot and converge to the never-crashed result.

    Under the old rmtree-first swap this exact crash point left no
    table AND no parked copy — the rerun would have returned only the
    second batch's keys.
    """
    from gcp_dbt_data_engineering_spark.plans import models as M
    from gcp_dbt_data_engineering_spark.sources import register_all

    orders = register_all(spark, SF, tables=("orders",))["orders"]

    # ground truth: the same two batches with no crash
    wh_ok = os.path.join(ARTIFACTS_DIR, "warehouse_crash_ok")
    shutil.rmtree(wh_ok, ignore_errors=True)
    g_ok = M.ModelGraph(M.MERGE_MODEL, warehouse_dir=wh_ok)
    _run_merge_batch(spark, g_ok, orders, wh_ok, "1995-01-01", "1998-01-01")
    expected = _run_merge_batch(
        spark, g_ok, orders, wh_ok, "1998-01-01", "2002-01-01"
    )

    wh = os.path.join(ARTIFACTS_DIR, "warehouse_crash_test")
    shutil.rmtree(wh, ignore_errors=True)
    graph = M.ModelGraph(M.MERGE_MODEL, warehouse_dir=wh)
    base = _run_merge_batch(spark, graph, orders, wh, "1995-01-01", "1998-01-01")
    assert base  # prior state exists before the crash run

    # crash injection: the SECOND os.rename inside this swap dies
    # (prior snapshot already parked at __old, staging not yet live)
    real_rename = os.rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash between swap renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        _run_merge_batch(spark, graph, orders, wh, "1998-01-01", "2002-01-01")
    monkeypatch.setattr(os, "rename", real_rename)

    # crashed state: table dir gone, but parked + complete staging exist
    path = f"{wh}/customer_order_state"
    assert not os.path.exists(path)
    assert os.path.exists(f"{path}__old")
    assert os.path.exists(os.path.join(f"{path}__staging", "_SUCCESS"))

    # replay the batch: _recover_swap runs at merge entry, then the
    # merge applies the batch on the recovered state — idempotent
    recovered = _run_merge_batch(
        spark, graph, orders, wh, "1998-01-01", "2002-01-01"
    )
    assert recovered == expected
    assert not os.path.exists(f"{path}__old")
    assert not os.path.exists(f"{path}__staging")
    shutil.rmtree(wh, ignore_errors=True)
    shutil.rmtree(wh_ok, ignore_errors=True)


def test_concurrent_merges_serialize_never_mix(spark):
    """Two CONCURRENT real merge runs on the same table (VERDICT r8
    item 5): the per-table lock (_table_lock) must collapse the
    interleaving to one of the two serial orders — the surviving
    table equals run-A-then-B or run-B-then-A, never a row-level mix.

    Each racer gets its own spark.newSession() (temp views are
    session-scoped; the warehouse paths and the lock are shared),
    overlapping date batches write DIFFERENT aggregates for the same
    customer keys, and the staged parquet write takes long enough
    that both threads genuinely contend on the lock.
    """
    import threading

    from gcp_dbt_data_engineering_spark.plans import models as M
    from gcp_dbt_data_engineering_spark.sources import register_all

    BASE = ("1995-01-01", "1996-01-01")
    A = ("1995-01-01", "1998-01-01")
    B = ("1996-01-01", "2002-01-01")

    def serial(wh, batches):
        shutil.rmtree(wh, ignore_errors=True)
        sess = spark.newSession()
        orders = register_all(sess, SF, tables=("orders",))["orders"]
        g = M.ModelGraph(M.MERGE_MODEL, warehouse_dir=wh)
        out = None
        for lo, hi in batches:
            out = _run_merge_batch(sess, g, orders, wh, lo, hi)
        return out

    ab = serial(os.path.join(ARTIFACTS_DIR, "wh_race_ab"), (BASE, A, B))
    ba = serial(os.path.join(ARTIFACTS_DIR, "wh_race_ba"), (BASE, B, A))
    assert ab != ba  # the orders must be distinguishable or the test is vacuous

    wh = os.path.join(ARTIFACTS_DIR, "wh_race_conc")
    shutil.rmtree(wh, ignore_errors=True)
    serial(wh, (BASE,))  # prior state exists before the race

    errs = []

    def racer(lo, hi):
        try:
            sess = spark.newSession()
            orders = register_all(sess, SF, tables=("orders",))["orders"]
            g = M.ModelGraph(M.MERGE_MODEL, warehouse_dir=wh)
            _run_merge_batch(sess, g, orders, wh, lo, hi)
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    t1 = threading.Thread(target=racer, args=A)
    t2 = threading.Thread(target=racer, args=B)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs

    final = sorted(
        map(
            tuple,
            spark.read.parquet(f"{wh}/customer_order_state").collect(),
        )
    )
    assert final in (ab, ba), (
        "concurrent merges produced a state matching neither serial "
        "order — a torn/lost-update mix"
    )
    # no lock/staging/parked leftovers
    for suffix in ("__lock", "__staging", "__old"):
        assert not os.path.exists(f"{wh}/customer_order_state{suffix}")
