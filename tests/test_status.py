"""The status-store reader counts exactly the jobs launched since its
last read, and leaves out the stages whose shuffle output was reused."""

from __future__ import annotations

from operator import add

import pytest

from gcp_dbt_data_engineering_spark.status import FIELDS, StatusReader


def _scheduled(spark) -> int:
    """Job ids the DAG scheduler has handed out so far: a count that
    does not come from the status store."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


class _Gone:
    @staticmethod
    def size() -> int:
        return 0


class _Evicting:
    """The real status store, less the stages whose attempt statuses
    ``drop`` picks, as if the store had evicted them."""

    def __init__(self, store, drop):
        self._store, self._drop = store, drop

    def job(self, job_id):
        return self._store.job(job_id)

    def stageData(self, sid, *args):
        attempts = self._store.stageData(sid, *args)
        st = {str(attempts.apply(i).status()) for i in range(attempts.size())}
        return _Gone() if self._drop(st) else attempts


def _reduced(spark):
    pairs = spark.sparkContext.parallelize(range(8), 4).map(lambda x: (x % 2, x))
    return pairs.reduceByKey(add, 2)


def test_reader_counts_exactly_the_new_jobs(spark):
    spark.range(4).count()  # ran before the reader: never counted
    reader = StatusReader(spark)
    assert reader.read() == dict.fromkeys(FIELDS, 0)

    n0 = _scheduled(spark)
    sums = _reduced(spark)
    assert dict(sums.collect()) == {0: 12, 1: 16}
    first = reader.read()
    assert first["jobs"] == _scheduled(spark) - n0 == 1
    # one map stage of 4 tasks, one result stage of 2
    assert (first["stages"], first["tasks"]) == (2, 6)
    assert first["shuffle_write_b"] == first["shuffle_read_b"] > 0

    # the second read sees only the jobs launched since the first; the
    # re-collect reuses the map output, so its map stage is SKIPPED
    n1 = _scheduled(spark)
    assert dict(sums.collect()) == {0: 12, 1: 16}
    second = reader.read()
    assert second["jobs"] == _scheduled(spark) - n1 == 1
    assert (second["stages"], second["tasks"]) == (1, 2)
    assert second["shuffle_write_b"] == 0
    assert second["shuffle_read_b"] == first["shuffle_read_b"]
    assert reader.read()["jobs"] == 0


def test_reader_raises_only_on_an_evicted_stage_that_ran(spark):
    """A long session's store evicts SKIPPED stages first: one of those
    may be gone, but a missing stage that ran must raise."""
    sums = _reduced(spark)
    sums.collect()
    reader = StatusReader(spark)
    store = reader._store
    reader._store = _Evicting(store, lambda st: "SKIPPED" in st)
    sums.collect()  # its map stage is SKIPPED
    got = reader.read()
    assert (got["jobs"], got["stages"], got["tasks"]) == (1, 1, 2)

    reader._store = _Evicting(store, lambda st: "COMPLETE" in st)
    sums.collect()
    with pytest.raises(RuntimeError, match="evicted"):
        reader.read()
