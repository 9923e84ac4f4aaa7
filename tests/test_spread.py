"""spread(): file-size-based split estimation (no df.rdd analysis)."""

from __future__ import annotations

import os
import shutil

from gcp_dbt_data_engineering_spark import ARTIFACTS_DIR
from gcp_dbt_data_engineering_spark.sources import load_table, spread

ART = os.path.join(ARTIFACTS_DIR, "spread_test")


def test_single_split_fixture_gets_repartitioned(spark):
    df = load_table(spark, "/root/testdata/sf0.001", "orders")
    out = spread(df)
    assert out is not df  # one small file -> repartition applied
    assert out.rdd.getNumPartitions() >= 8


def test_multi_file_source_left_alone(spark):
    shutil.rmtree(ART, ignore_errors=True)
    load_table(spark, "/root/testdata/sf0.001", "orders").repartition(
        8
    ).write.parquet(ART)
    df = spark.read.parquet(ART)
    # 8 files >= max(2, defaultParallelism // 2) on local[8] -> the
    # scan is already split; spread must be a no-op (no extra shuffle)
    assert spread(df) is df
    shutil.rmtree(ART, ignore_errors=True)


def test_parse_bytes_suffixes():
    from gcp_dbt_data_engineering_spark.sources.registry import _parse_bytes

    assert _parse_bytes("134217728b") == 128 << 20
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("64") == 64
    import pytest

    with pytest.raises(Exception):
        _parse_bytes("128x")


def test_clear_caches_unpersists(spark):
    from gcp_dbt_data_engineering_spark.operators.dedup import _shingle_rows
    from gcp_dbt_data_engineering_spark.session import clear_caches

    sh = _shingle_rows(spark, "/root/testdata/sf0.001")
    assert sh.is_cached
    assert clear_caches(spark) >= 1
    assert not sh.is_cached
    assert "_graft_shingle_cache" not in spark.__dict__
    # re-derivable after the clear
    assert _shingle_rows(spark, "/root/testdata/sf0.001").count() > 0


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
