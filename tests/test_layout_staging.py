"""Staging of derived on-disk artifacts (sources/registry.py
``stage_artifact``, used by the registry's split layouts and by the
path layouts of plans/layout.py).

The r8 adversarial-corpus rewrite exposed that derived layouts keyed
by sf-tag alone served STALE data after an in-place corpus rewrite;
and direct writes to the final path could tear under the documented
two-worker gate split. These tests pin the one protocol:
mtime+size-embedded keys, tmp+rename staging, age-gated reaping.
"""

from __future__ import annotations

import os
import time

import pytest

import gcp_dbt_data_engineering_spark.plans.layout as layout
from gcp_dbt_data_engineering_spark.sources.registry import (
    STAGE_TTL_S,
    source_key,
    stage_artifact,
)

from .conftest import SF_SMOKE


def _age(path: str, seconds: float = STAGE_TTL_S + 3600) -> None:
    then = time.time() - seconds
    os.utime(path, (then, then))


def _source(tmp_path, payload: bytes = b"v1") -> str:
    """A one-table corpus ``<tmp>/sfX/orders.parquet``; returns sf_dir."""
    sf = tmp_path / "sfX"
    sf.mkdir(exist_ok=True)
    (sf / "orders.parquet").write_bytes(payload)
    return str(sf)


def _writer(tag: str):
    def w(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data"), "w") as f:
            f.write(tag)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return w


def _read(path: str) -> str:
    with open(os.path.join(path, "data")) as f:
        return f.read()


def _tmp_dirs(root) -> list[str]:
    return [d for d in os.listdir(root) if ".tmp-" in d]


def test_source_key_rekeys_on_source_rewrite(tmp_path):
    """Rewriting the source table in place must change the artifact
    key — the sf-tag-only key is the r8 stale-layout defect."""
    sf = _source(tmp_path)
    t1 = source_key(sf, "orders")
    time.sleep(0.01)
    _source(tmp_path, b"v2-longer")
    t2 = source_key(sf, "orders")
    assert t1 != t2
    assert t1.startswith("sfX-") and t2.startswith("sfX-")


def test_stage_rename_loser_cleans_up(tmp_path):
    """Two sessions racing on the same layout: the rename loser drops
    its tmp copy and the winner's complete artifact survives."""
    sf, root = _source(tmp_path), str(tmp_path / "art")

    def loser(tmp):
        # another session publishes while this one is still writing
        stage_artifact(root, "orc", sf, "orders", _writer("winner"))
        _writer("loser")(tmp)

    path = stage_artifact(root, "orc", sf, "orders", loser)
    assert _read(path) == "winner"
    assert _tmp_dirs(root) == []


def test_stage_skips_a_complete_artifact(tmp_path):
    sf, root = _source(tmp_path), str(tmp_path / "art")
    path = stage_artifact(root, "orc", sf, "orders", _writer("first"))

    def must_not_run(tmp):
        raise AssertionError("a complete artifact was rebuilt")

    assert stage_artifact(root, "orc", sf, "orders", must_not_run) == path
    assert _read(path) == "first"


def test_prune_stale_is_age_gated(tmp_path):
    """Older keys and other processes' tmp dirs of the same kind and
    scale factor are reaped past the TTL; young ones, the current key,
    other kinds and other scale factors survive."""
    sf, root = _source(tmp_path), str(tmp_path / "art")
    os.makedirs(root)
    old = os.path.join(root, "orc@sfX-1-1")
    young = os.path.join(root, "orc@sfX-2-2")
    dead_tmp = os.path.join(root, "orc@sfX-3-3.tmp-999999")
    live_tmp = os.path.join(root, "orc@sfX-4-4.tmp-999998")
    other_kind = os.path.join(root, "zorder@sfX-1-1")
    other_sf = os.path.join(root, "orc@sfXY-1-1")
    for d in (old, young, dead_tmp, live_tmp, other_kind, other_sf):
        os.makedirs(d)
    for d in (old, dead_tmp, other_kind, other_sf):
        _age(d)
    keep = stage_artifact(root, "orc", sf, "orders", _writer("current"))
    assert not os.path.exists(old)        # past TTL: reaped
    assert not os.path.exists(dead_tmp)   # a dead writer's tmp: reaped
    assert os.path.exists(young)          # a live session may read it
    assert os.path.exists(live_tmp)       # a live writer may rename it
    assert os.path.exists(other_kind)
    assert os.path.exists(other_sf)
    assert _read(keep) == "current"


def test_stage_evicts_torn_occupant(tmp_path):
    """A legacy torn directory (exists, no _SUCCESS) must not win the
    rename forever: the stager evicts it and retries once (ADVICE r8 —
    before the fix the spec permanently read the torn layout)."""
    sf, root = _source(tmp_path), str(tmp_path / "art")
    path = os.path.join(root, f"orc@{source_key(sf, 'orders')}")
    os.makedirs(path)
    with open(os.path.join(path, "data"), "w") as f:
        f.write("torn")  # no _SUCCESS: a pre-staging-era crash

    assert stage_artifact(root, "orc", sf, "orders", _writer("good")) == path
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert _read(path) == "good"
    assert _tmp_dirs(root) == []


def test_layout_write_that_raises_leaves_no_tmp_dir(
    spark, tmp_path, monkeypatch
):
    """A layout build that fails mid-write removes its partial tmp dir
    and publishes nothing."""
    import gcp_dbt_data_engineering_spark.sources as sources

    def write_then_fail(df, path, fmt="parquet", **kwargs):
        os.makedirs(path)
        open(os.path.join(path, "part-00000.orc"), "w").close()
        raise OSError("disk full")

    monkeypatch.setattr(layout, "ART", str(tmp_path))
    monkeypatch.setattr(sources, "write_sink", write_then_fail)
    with pytest.raises(OSError, match="disk full"):
        layout.orders_orc_scan(spark, SF_SMOKE)
    assert os.listdir(tmp_path) == []


def test_stale_compaction_scratch_dirs_are_reaped(
    spark, tmp_path, monkeypatch
):
    """compact_small_files writes a per-PID scratch dir on every call;
    another process's dir, once past the TTL, is removed by a later
    call, and the calling process's own dir is rewritten."""
    monkeypatch.setattr(layout, "ART", str(tmp_path))
    layout.compact_small_files(spark, SF_SMOKE).collect()
    suffix = f"_compacted_orders-{os.getpid()}"
    (mine,) = [d for d in os.listdir(tmp_path) if d.endswith(suffix)]
    frag = os.path.join(tmp_path, mine[: -len(suffix)])
    stale, young = f"{frag}_compacted_orders-1", f"{frag}_compacted_orders-2"
    os.makedirs(stale)
    os.makedirs(young)
    _age(stale)
    layout.compact_small_files(spark, SF_SMOKE).collect()
    assert not os.path.exists(stale)
    assert os.path.exists(young)
    assert os.path.exists(os.path.join(tmp_path, mine))


def test_prune_stale_catalog_is_age_gated(spark, tmp_path, monkeypatch):
    """Catalog twin of the path prune (ADVICE r8): older-keyed
    bucketed tables past the TTL are dropped with their warehouse
    data; young ones and the current key survive."""
    monkeypatch.setattr(layout, "ART", str(tmp_path))
    rows = spark.range(1)
    names = ("b_lineitem_prune_old", "b_lineitem_prune_young",
             "b_lineitem_prune_keep")
    for name in names:
        path = str(tmp_path / name)
        rows.write.option("path", path).saveAsTable(name)
    old_path = str(tmp_path / names[0])
    _age(old_path)
    try:
        layout._prune_stale_catalog(spark, "b_lineitem_prune_", names[2])
        assert not spark.catalog.tableExists(names[0])
        assert not os.path.exists(old_path)
        assert spark.catalog.tableExists(names[1])
        assert spark.catalog.tableExists(names[2])
    finally:
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
