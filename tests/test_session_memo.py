"""The session memo contract (``session.memo`` + ``clear_caches``).

Every corpus artifact the engine memoizes (table handles, shingle/pair/
quantized relations, fitted centroids, registry stats) goes through
``session.memo``. The benchmark's memo tracker and ``clear_caches``
both depend on its storage format: one ``_graft_<name>_cache`` dict per
memo on the session, read with ``get`` and written by item assignment.
"""

from __future__ import annotations

from gcp_dbt_data_engineering_spark.session import (
    _CATALOG_CACHES,
    clear_caches,
    memo,
)


def test_memo_builds_once_per_name_and_key(spark):
    clear_caches(spark)
    calls = []

    def build(tag):
        def fn():
            calls.append(tag)
            return [tag]  # a fresh object per build

        return fn

    first = memo(spark, "probe", "k1", build("k1"))
    assert memo(spark, "probe", "k1", build("again")) is first
    assert calls == ["k1"]

    other = memo(spark, "probe", "k2", build("k2"))
    assert other is not first and other == ["k2"]
    # the same key under another name is another entry
    assert memo(spark, "probe2", "k1", build("p2")) == ["p2"]
    assert calls == ["k1", "k2", "p2"]
    assert set(spark.__dict__["_graft_probe_cache"]) == {"k1", "k2"}
    clear_caches(spark)


def test_memo_reads_through_get_on_the_session_dict(spark):
    clear_caches(spark)

    class CountingDict(dict):
        gets = 0

        def get(self, key, default=None):
            CountingDict.gets += 1
            return super().get(key, default)

    memo(spark, "probe", "k", lambda: "built")
    # swapped in after the first build: later calls must find it on the
    # session and read through its get
    spark.__dict__["_graft_probe_cache"] = CountingDict(
        spark.__dict__["_graft_probe_cache"]
    )
    assert memo(spark, "probe", "k", lambda: "rebuilt") == "built"
    assert memo(spark, "probe", "k", lambda: "rebuilt") == "built"
    assert CountingDict.gets == 2
    clear_caches(spark)


def test_clear_caches_unpersists_and_drops(spark):
    clear_caches(spark)

    def build():
        df = spark.range(5).persist()
        df.count()
        return df

    df = memo(spark, "probe", "k", build)
    assert df.is_cached
    assert clear_caches(spark) == 1
    assert not df.is_cached
    assert "_graft_probe_cache" not in spark.__dict__
    # rebuilt after the clear, not served from a stale entry
    assert memo(spark, "probe", "k", build) is not df
    clear_caches(spark)


def test_keep_table_handles_keeps_catalog_memos(spark):
    clear_caches(spark)
    assert _CATALOG_CACHES == ("_graft_table_cache", "_graft_stats_cache")
    table = memo(spark, "table", "t", lambda: spark.range(1))
    stats = memo(spark, "stats", "t", lambda: {"rows": 1})
    memo(spark, "probe", "k", lambda: spark.range(2))

    assert clear_caches(spark, keep_table_handles=True) == 1
    assert "_graft_probe_cache" not in spark.__dict__
    assert memo(spark, "table", "t", lambda: None) is table
    assert memo(spark, "stats", "t", lambda: None) is stats

    clear_caches(spark)
    assert not any(k in spark.__dict__ for k in _CATALOG_CACHES)
