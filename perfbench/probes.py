"""Readers the benchmark uses to see the engine from outside.

- :class:`ProcessTree` reads ``/proc`` for this process and every
  process it started (the JVM, and the JVM's Python workers).
- :class:`JobReader` reads Spark's status store, only for the jobs and
  stages that are new since its last read: job and stage ids are dense
  and increasing within one SparkContext, so it probes ids upward from
  a watermark instead of listing the whole store.
- :class:`JvmGauges` reads the JVM's MXBeans and Spark's codegen totals.
- :class:`MemoTracker` counts reads of the session's derived memos
  that an earlier operation of the same pass built.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces and parens; the fields after it never do
    return [raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[
        raw.rindex(")") + 2 :
    ].split()


@dataclass
class CpuSample:
    driver: float  # this Python process
    jvm: float  # the JVM, all threads
    workers: float  # everything the JVM started (Python workers)

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.workers

    def __add__(self, o: "CpuSample") -> "CpuSample":
        return CpuSample(
            self.driver + o.driver, self.jvm + o.jvm, self.workers + o.workers
        )

    def __sub__(self, o: "CpuSample") -> "CpuSample":
        return CpuSample(
            self.driver - o.driver, self.jvm - o.jvm, self.workers - o.workers
        )


class ProcessTree:
    """CPU seconds of this process and its descendants.

    Each process counts its own user+system time plus that of its
    children it has already reaped, so a worker that exits between two
    samples stays counted through its parent.
    """

    def __init__(self, jvm_pid: int):
        self.root = os.getpid()
        self.jvm_pid = jvm_pid

    def _table(self) -> dict[int, tuple[int, float]]:
        out: dict[int, tuple[int, float]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            f = _stat_fields(name)
            if f is None:
                continue
            # after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
            cpu = sum(int(x) for x in f[12:16]) / _TICK
            out[int(name)] = (int(f[2]), cpu)
        return out

    def sample(self) -> CpuSample:
        table = self._table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)

        def subtree(pid: int) -> float:
            total, stack = 0.0, list(kids.get(pid, ()))
            while stack:
                p = stack.pop()
                total += table[p][1]
                stack.extend(kids.get(p, ()))
            return total

        driver = table.get(self.root, (0, 0.0))[1]
        jvm = table.get(self.jvm_pid, (0, 0.0))[1]
        return CpuSample(driver, jvm, subtree(self.jvm_pid))

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0


def host_cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_attempts: int = 0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    input_b: int = 0
    output_b: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    spill_b: int = 0
    #: (submission, completion) epoch-ms intervals, traced reads only
    intervals: list[tuple[int, int]] = field(default_factory=list)

    def add(self, o: "JobStats") -> "JobStats":
        for k in self.__dataclass_fields__:
            if k != "intervals":
                setattr(self, k, getattr(self, k) + getattr(o, k))
        self.intervals.extend(o.intervals)
        return self


def total(stats) -> JobStats:
    out = JobStats()
    for s in stats:
        out.add(s)
    return out


class JobReader:
    """Status-store reader over the jobs launched since its last call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = sc.statusTracker()
        gw = sc._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.next_job = 0
        self.next_stage = 0
        self.read(details=False)  # set the watermarks past set-up's jobs

    def read(self, details: bool = True, intervals: bool = False) -> list[JobStats]:
        """One entry per job launched since the last call, each with the
        stages it created. A job or stage the store has already evicted
        raises: a silently short count would read as a saving."""
        # raises a TimeoutException if events are still queued after 60 s
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        out = []
        while (info := self._tracker.getJobInfo(self.next_job)) is not None:
            js = JobStats(jobs=1)
            new = sorted(s for s in info.stageIds if s >= self.next_stage)
            if new:
                self.next_stage = new[-1] + 1
            if intervals:
                jd = self._store.job(self.next_job)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    js.intervals.append((sub.get().getTime(), done.get().getTime()))
            if details:
                for sid in new:
                    self._add_stage(js, sid)
            out.append(js)
            self.next_job += 1
        return out

    def _add_stage(self, js: JobStats, sid: int) -> None:
        attempts = self._store.stageData(
            sid, False, self._no_tasks, False, self._no_quantiles
        )
        if attempts.size() == 0:
            raise RuntimeError(f"stage {sid} was evicted from the status store")
        for i in range(attempts.size()):
            s = attempts.apply(i)
            if str(s.status()) == "SKIPPED":
                continue
            js.stages += 1
            js.tasks += s.numTasks()
            js.task_attempts += (
                s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
            )
            js.shuffle_write_b += s.shuffleWriteBytes()
            js.shuffle_read_b += s.shuffleReadBytes()
            js.input_b += s.inputBytes()
            js.output_b += s.outputBytes()
            js.executor_run_ms += s.executorRunTime()
            js.gc_ms += s.jvmGcTime()
            js.spill_b += s.memoryBytesSpilled() + s.diskBytesSpilled()


@dataclass
class JvmSample:
    jit_ms: float
    gc_ms: float
    codegen_ns: float
    codegen_classes: int


class JvmGauges:
    def __init__(self, spark):
        jvm = spark.sparkContext._gateway.jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = (
            jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        )
        self._compiles = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics
        ).METRIC_COMPILATION_TIME()

    def sample(self) -> JvmSample:
        return JvmSample(
            self._jit.getTotalCompilationTime(),
            sum(g.getCollectionTime() for g in self._gcs),
            self._codegen.compileTime(),
            self._compiles.getCount(),
        )


class _CountingMemo(dict):
    """A session memo dict that remembers which operation built each
    entry and counts the reads of entries another operation built.
    The engine reads its memos with ``cache.get(key)`` only."""

    def __init__(self, entries: dict, op: str):
        super().__init__(entries)
        self.op = op
        self.built_by = dict.fromkeys(entries, op)
        self.cross_hits = 0

    def get(self, key, default=None):
        v = super().get(key, default)
        if v is not None and self.built_by.get(key, self.op) != self.op:
            self.cross_hits += 1
        return v

    def __setitem__(self, key, v):
        super().__setitem__(key, v)
        self.built_by[key] = self.op


class MemoTracker:
    """Cross-operation reuse of the derived memos the engine hangs off
    the session (``spark._graft_*_cache`` dicts, catalog memos aside).

    After each operation every new memo dict is swapped for a counting
    one, its entries credited to that operation; the engine fetches the
    dict from the session on every call, so later operations read the
    counting dict. ``clear_caches`` deletes the dicts between passes.
    """

    def __init__(self, spark, catalog: tuple[str, ...]):
        self.spark = spark
        self.catalog = catalog

    def memos(self) -> dict:
        return {
            k: v
            for k, v in self.spark.__dict__.items()
            if k.startswith("_graft_") and k.endswith("_cache") and k not in self.catalog
        }

    def start(self, op: str) -> None:
        for memo in self.memos().values():
            if isinstance(memo, _CountingMemo):
                memo.op = op

    def finish(self, op: str) -> int:
        """Cross-operation hits during ``op``; adopts the memos it built."""
        hits = 0
        for k, memo in self.memos().items():
            if isinstance(memo, _CountingMemo):
                hits += memo.cross_hits
                memo.cross_hits = 0
            else:
                self.spark.__dict__[k] = _CountingMemo(memo, op)
        return hits


def planner_phases_ms(df) -> dict[str, int]:
    """Catalyst phase durations of the query that produced ``df``."""
    out: dict[str, int] = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def clip(
    intervals: list[tuple[float, float]], windows: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside any of ``windows``."""
    return [
        (max(s, ws), min(e, we))
        for s, e in intervals
        for ws, we in windows
        if min(e, we) > max(s, ws)
    ]


def now_ms() -> float:
    return time.time() * 1000.0
