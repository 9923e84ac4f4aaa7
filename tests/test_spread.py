"""The registry's staging of tables with fewer row groups than cores,
and the session memo caches over the staged scans."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gcp_dbt_data_engineering_spark.sources import registry as reg
from gcp_dbt_data_engineering_spark.status import StatusReader


def test_clear_caches_unpersists(spark):
    from gcp_dbt_data_engineering_spark.operators.dedup import _shingle_sets
    from gcp_dbt_data_engineering_spark.session import clear_caches

    from .conftest import SF_SMOKE

    sh = _shingle_sets(spark, SF_SMOKE)
    assert sh.is_cached
    assert clear_caches(spark) >= 1
    assert not sh.is_cached
    assert "_graft_shingle_set_cache" not in spark.__dict__
    # re-derivable after the clear
    assert _shingle_sets(spark, SF_SMOKE).count() > 0


def test_staging_layout(spark, tmp_path):
    """Single-row-group tables >= STAGE_MIN_BYTES are rewritten once
    into a splittable multi-file layout; small tables stay raw; stale
    stagings of the same (table, sf) are pruned; other SFs survive."""
    import os

    from gcp_dbt_data_engineering_spark.sources import registry as reg

    sf = "/root/testdata/sf0.1"
    p = reg.table_path(sf, "lineitem")
    staged = reg._stage_if_unsplittable(spark, p, "lineitem", sf)
    assert staged != p and os.path.exists(os.path.join(staged, "_SUCCESS"))
    n_files = len([f for f in os.listdir(staged) if f.endswith(".parquet")])
    assert n_files > 1  # splittable now
    # idempotent: second call reuses, no rewrite
    assert reg._stage_if_unsplittable(spark, p, "lineitem", sf) == staged
    # small table untouched
    pr = reg.table_path(sf, "region")
    assert reg._stage_if_unsplittable(spark, pr, "region", sf) == pr
    # stale-layout prune: plant fake old stagings. The prune is
    # age-gated (1 h TTL) so a live session's layout can't vanish
    # mid-query — an OLD same-(table, sf) dir is reaped, a FRESH one
    # and other SFs survive.
    import time

    fake_old = os.path.join(reg.STAGE_DIR, "lineitem@sf0.1-0-0")
    fake_new = os.path.join(reg.STAGE_DIR, "lineitem@sf0.1-1-1")
    os.makedirs(fake_old, exist_ok=True)
    os.makedirs(fake_new, exist_ok=True)
    two_h_ago = time.time() - 7200
    os.utime(fake_old, (two_h_ago, two_h_ago))
    other_sf = os.path.join(reg.STAGE_DIR, "lineitem@sf0.01-0-0")
    os.makedirs(other_sf, exist_ok=True)
    os.utime(other_sf, (two_h_ago, two_h_ago))
    import shutil

    shutil.rmtree(staged)  # force a re-stage so the prune branch runs
    staged2 = reg._stage_if_unsplittable(spark, p, "lineitem", sf)
    assert os.path.exists(os.path.join(staged2, "_SUCCESS"))
    assert not os.path.exists(fake_old)  # same (table, sf), aged: pruned
    assert os.path.exists(fake_new)  # same (table, sf), fresh: kept
    assert os.path.exists(other_sf)  # other sf: untouched even when old
    shutil.rmtree(other_sf, ignore_errors=True)
    shutil.rmtree(fake_new, ignore_errors=True)


def test_clear_caches_staleness_regression(spark, tmp_path):
    """The documented hazard the memo caches create: a corpus
    rewritten in place BY ANOTHER PROCESS keeps being served from the
    persisted shingle relation until clear_caches is called. (Spark
    auto-recaches paths IT overwrites in-session, so the rewrite here
    goes through pyarrow — the external-writer case is exactly the one
    the memo cannot see.) Pins both halves — stale before, fresh
    after — so the invalidation contract can't rot."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gcp_dbt_data_engineering_spark.operators.dedup import _shingle_rows
    from gcp_dbt_data_engineering_spark.session import clear_caches

    corpus = str(tmp_path / "corpus")
    os.makedirs(f"{corpus}/documents.parquet")

    def write(rows):
        shutil.rmtree(f"{corpus}/documents.parquet", ignore_errors=True)
        os.makedirs(f"{corpus}/documents.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(
                        [r[0] for r in rows], type=pa.int64()
                    ),
                    "source": pa.array([r[1] for r in rows]),
                    "text": pa.array([r[2] for r in rows]),
                }
            ),
            f"{corpus}/documents.parquet/part-0.parquet",
        )

    write([(i, "s", "alpha beta gamma delta epsilon zeta") for i in range(20)])
    n1 = _shingle_rows(spark, corpus).count()
    assert n1 > 0

    write([(i, "s", "one two three") for i in range(5)])
    # stale: the persisted relation still answers from v1 blocks
    assert _shingle_rows(spark, corpus).count() == n1
    clear_caches(spark)
    n2 = _shingle_rows(spark, corpus).count()
    assert 0 < n2 != n1
    clear_caches(spark)  # leave no tmp-corpus state for other tests


#: The sf0.1 tables that are one row group of at least STAGE_MIN_BYTES.
STAGED_SF01 = ("lineitem", "orders", "events", "documents", "embeddings")


@pytest.fixture
def stage_dir(tmp_path, monkeypatch):
    """A private, empty STAGE_DIR, so each test stages from scratch."""
    d = str(tmp_path / "staged")
    monkeypatch.setattr(reg, "STAGE_DIR", d)
    return d


def _parts(staged: str) -> list[str]:
    return sorted(
        os.path.join(staged, f)
        for f in os.listdir(staged)
        if f.endswith(".parquet")
    )


def test_staging_launches_no_spark_job(spark, stage_dir):
    sf = "/root/testdata/sf0.1"
    reader = StatusReader(spark)
    staged = reg._stage_if_unsplittable(
        spark, reg.table_path(sf, "orders"), "orders", sf
    )
    assert os.path.exists(os.path.join(staged, "_SUCCESS"))
    assert reader.read()["jobs"] == 0


def _write_row_groups(sf: str, name: str, groups: int) -> str:
    """Write a ``groups``-row-group table of at least STAGE_MIN_BYTES."""
    rows = 64_000
    os.makedirs(sf)
    path = reg.table_path(sf, name)
    keys = [(i * 2_654_435_761) % (1 << 61) for i in range(rows)]
    pq.write_table(
        pa.table(
            {
                "k": pa.array(keys, type=pa.int64()),
                "s": pa.array([f"v{k % 10_007}" for k in keys]),
            }
        ),
        path,
        row_group_size=-(-rows // groups),
    )
    assert os.path.getsize(path) >= reg.STAGE_MIN_BYTES
    assert pq.ParquetFile(path).metadata.num_row_groups == groups
    return path


def test_staged_parts_concatenate_to_the_raw_table(spark, tmp_path, stage_dir):
    """Each staged part is one row group; in part order the parts are
    the raw table, schema and schema metadata included. A source with
    fewer row groups than cores is staged into at least one part per
    core; one with at least as many row groups is read raw."""
    sf = "/root/testdata/sf0.1"
    n = min(16, spark.sparkContext.defaultParallelism)
    sf2 = str(tmp_path / "sf2")
    _write_row_groups(sf2, "orders", 2)
    inputs = [(sf, name) for name in STAGED_SF01] + [(sf2, "orders")]
    for sf_dir, name in inputs:
        path = reg.table_path(sf_dir, name)
        staged = reg._stage_if_unsplittable(spark, path, name, sf_dir)
        assert staged.startswith(stage_dir), name
        parts = _parts(staged)
        assert len(parts) >= n, name
        if pq.ParquetFile(path).metadata.num_row_groups == 1:
            assert len(parts) == n, name
        assert all(
            pq.ParquetFile(f).metadata.num_row_groups == 1 for f in parts
        ), name
        got = pa.concat_tables(pq.read_table(f) for f in parts)
        assert got.equals(pq.read_table(path), check_metadata=True), name
    sfn = str(tmp_path / "sfn")
    many = _write_row_groups(sfn, "orders", max(2, n))
    assert reg._stage_if_unsplittable(spark, many, "orders", sfn) == many


def test_staged_split_is_keyed_on_its_part_count(tmp_path, stage_dir):
    """A session with another core count stages its own layout: the
    part count is in the staged path, and each layout has at least
    that many parts. A repeat call with the same count reuses its
    layout."""
    from types import SimpleNamespace

    sf = str(tmp_path / "sfcores")
    path = _write_row_groups(sf, "orders", 1)
    staged = {}
    for cores in (2, 4):
        session = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=cores)
        )
        staged[cores] = reg._stage_if_unsplittable(session, path, "orders", sf)
        assert len(_parts(staged[cores])) >= cores
    assert staged[2] != staged[4]
    assert reg._stage_if_unsplittable(session, path, "orders", sf) == staged[4]


def test_staged_nanos_nulls_and_lists_read_like_the_raw_file(
    spark, tmp_path, stage_dir
):
    """A TIMESTAMP(NANOS) column (read as bigint under nanosAsLong), a
    list column, and NULLs in every column but the key and inside the
    lists: Spark reads the same schema and the same rows from the raw
    file and the staged copy."""
    rows = 30_000
    ids = list(range(rows))
    table = pa.table(
        {
            "id": pa.array(ids, type=pa.int64()),
            "ts": pa.array(
                [
                    None if i % 97 == 0
                    else 1_600_000_000_123_456_789 + i * 1_000_003
                    for i in ids
                ],
                type=pa.timestamp("ns"),
            ),
            "tag": pa.array(
                [None if i % 89 == 0 else f"t{i * 7919 % 100_003}" for i in ids]
            ),
            "vec": pa.array(
                [
                    None if i % 83 == 0
                    else [float(i % 13), None if i % 5 == 0 else i / 7.0]
                    for i in ids
                ],
                type=pa.list_(pa.float32()),
            ),
        }
    )
    sf = str(tmp_path / "sfnanos")
    os.makedirs(sf)
    path = reg.table_path(sf, "events")
    pq.write_table(table, path, row_group_size=rows)
    assert os.path.getsize(path) >= reg.STAGE_MIN_BYTES
    assert pq.ParquetFile(path).metadata.num_row_groups == 1

    staged = reg._stage_if_unsplittable(spark, path, "events", sf)
    assert staged != path and len(_parts(staged)) > 1
    raw_df = spark.read.parquet(path)
    staged_df = spark.read.parquet(staged)
    assert raw_df.schema == staged_df.schema
    assert dict(raw_df.dtypes)["ts"] == "bigint"
    assert staged_df.count() == raw_df.count() == rows
    assert raw_df.exceptAll(staged_df).count() == 0
    assert staged_df.exceptAll(raw_df).count() == 0


def test_failed_staging_leaves_no_tmp_dir(spark, stage_dir, monkeypatch):
    """A rewrite that raises mid-way removes its partial tmp directory
    and publishes no layout."""
    sf = "/root/testdata/sf0.1"
    real_write = pq.write_table
    calls = []

    def write_then_fail(*args, **kwargs):
        calls.append(1)
        if len(calls) > 1:
            raise OSError("disk full")
        real_write(*args, **kwargs)

    monkeypatch.setattr(pq, "write_table", write_then_fail)
    with pytest.raises(OSError, match="disk full"):
        reg._stage_if_unsplittable(
            spark, reg.table_path(sf, "orders"), "orders", sf
        )
    assert len(calls) == 2  # one part was on disk when it failed
    assert os.listdir(stage_dir) == []


def test_collect_table_stats_keys_on_tables(spark):
    """A one-table call must not short the later default call."""
    from gcp_dbt_data_engineering_spark.session import clear_caches
    from gcp_dbt_data_engineering_spark.sources import collect_table_stats

    sf = "/root/testdata/sf0.001"
    clear_caches(spark)
    assert list(collect_table_stats(spark, sf, tables=("nation",))) == [
        "nation"
    ]
    stats = collect_table_stats(spark, sf)
    assert sorted(stats) == sorted(reg.TABLES) and len(stats) == 10
    assert stats["nation"]["rows"] > 0


def test_staging_reaps_a_dead_writers_tmp_dir(spark, tmp_path, stage_dir):
    """A tmp dir that another process left under STAGE_DIR (it died
    before its rename) is removed once older than the TTL; a young
    one may belong to a live writer and stays."""
    import time

    sf = str(tmp_path / "sfreap")
    path = _write_row_groups(sf, "orders", 1)
    os.makedirs(stage_dir)
    dead = os.path.join(stage_dir, "orders@sfreap-1-1.tmp-999999")
    live = os.path.join(stage_dir, "orders@sfreap-1-1.tmp-999998")
    os.makedirs(dead)
    os.makedirs(live)
    then = time.time() - reg.STAGE_TTL_S - 60
    os.utime(dead, (then, then))
    staged = reg._stage_if_unsplittable(spark, path, "orders", sf)
    assert os.path.exists(os.path.join(staged, "_SUCCESS"))
    assert not os.path.exists(dead)
    assert os.path.exists(live)
