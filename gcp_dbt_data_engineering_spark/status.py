"""What the Spark jobs since the last read cost, from the status store.

Job and stage ids are dense and increasing within one SparkContext, so
:class:`StatusReader` probes job ids upward from a watermark with
``statusTracker().getJobInfo`` instead of listing the whole store, and
sums the attempts of each stage the new jobs created.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: the counters :meth:`StatusReader.read` returns, in this order
FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_b",
    "shuffle_write_b",
    "input_b",
    "input_records",
)


class StatusReader:
    """Counters of the jobs launched since the reader's last read.

    A new reader starts past every job and stage the scheduler has
    created, so its first :meth:`read` covers only what ran after it
    was made.
    """

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = sc.statusTracker()
        gw = sc._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        # the scheduler's next ids, not the store's: a new job may list
        # stages of long-finished jobs, and those may be evicted already
        sched = self._jsc.dagScheduler()
        self.next_job = sched.numTotalJobs()
        self.next_stage = sched.nextStageId()

    def read(self) -> dict[str, int]:
        """Sum :data:`FIELDS` over the jobs launched since the last read.

        SKIPPED stage attempts (their shuffle output was reused) are
        left out. The store evicts SKIPPED stages first, so a missing
        stage passes while the new jobs report at least that many
        skipped stages; any other missing stage raises, because a
        silently short count would read as a saving.
        """
        # raises a TimeoutException if events are still queued after 60 s
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        out = dict.fromkeys(FIELDS, 0)
        new: set[int] = set()
        skipped = 0
        while (info := self._tracker.getJobInfo(self.next_job)) is not None:
            out["jobs"] += 1
            # concurrently submitted jobs may create their stages out of
            # job-id order, so the stage watermark moves once per read
            new.update(s for s in info.stageIds if s >= self.next_stage)
            skipped += self._store.job(self.next_job).numSkippedStages()
            self.next_job += 1
        evicted = []
        for sid in new:
            attempts = self._store.stageData(
                sid, False, self._no_tasks, False, self._no_quantiles
            )
            if attempts.size() == 0:
                evicted.append(sid)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if str(s.status()) == "SKIPPED":
                    skipped -= 1
                    continue
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["shuffle_read_b"] += s.shuffleReadBytes()
                out["shuffle_write_b"] += s.shuffleWriteBytes()
                out["input_b"] += s.inputBytes()
                out["input_records"] += s.inputRecords()
        if len(evicted) > skipped:
            raise RuntimeError(
                f"stages {sorted(evicted)} were evicted from the status store"
            )
        if new:
            self.next_stage = max(new) + 1
        return out
