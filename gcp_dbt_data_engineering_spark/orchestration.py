"""Job orchestration layer — reference E2 steps 1-2 re-expressed.

The reference builds Airflow DAGs from a factory
(``tests/orchestrate.md:256-306``: ``create_dq_dag(dag_id, schedule,
...)`` with ``load_job_config -> submit PySpark job`` tasks, retry
policy ``tests/orchestrate.md:251-252``, and a fixed daily ordering —
profiling at 7AM before DQ at 9AM, ``tests/profiling_example.py:61-67``).

This module models the same surface without the Airflow dependency:
jobs are *data* (name, cron schedule string, dependencies, retry
policy) plus a callable, and :class:`LocalScheduler` executes one
logical date's worth of jobs in dependency order with retries — the
shape a real deployment hands to Airflow/Dataproc (each ``fn`` becomes
a task; ``schedule`` and ``retries`` map onto the operator kwargs
verbatim).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter
from typing import Any


def cron_next(cron: str, after: "datetime") -> "datetime":
    """Next fire time strictly after ``after`` for a 5-field cron.

    Supports the subset the reference's DAG schedules use
    (``tests/orchestrate.md:289``, ``'0 6 * * *'`` style): ``*``,
    integers, comma lists, and ``*/step`` per field, in the order
    minute hour day-of-month month day-of-week (0=Sunday, Airflow/
    vixie convention: dom and dow are OR-ed when both restricted).
    Pure arithmetic, minute resolution — deterministic and testable
    without Airflow.
    """
    from datetime import timedelta

    def parse(field_: str, lo: int, hi: int) -> set[int]:
        out: set[int] = set()
        for part in field_.split(","):
            if part == "*":
                out.update(range(lo, hi + 1))
            elif part.startswith("*/"):
                out.update(range(lo, hi + 1, int(part[2:])))
            else:
                v = int(part)
                if not lo <= v <= hi:
                    raise ValueError(f"cron field out of range: {part}")
                out.add(v)
        return out

    fields = cron.split()
    if len(fields) != 5:
        raise ValueError(f"need 5 cron fields: {cron!r}")
    minutes = parse(fields[0], 0, 59)
    hours = parse(fields[1], 0, 23)
    doms = parse(fields[2], 1, 31)
    months = parse(fields[3], 1, 12)
    dows = parse(fields[4], 0, 6)
    dom_any, dow_any = fields[2] == "*", fields[4] == "*"

    t = after.replace(second=0, microsecond=0) + timedelta(minutes=1)
    for _ in range(366 * 24 * 60):  # bounded scan: ≤ one year
        # python weekday(): Monday=0 … Sunday=6 → cron Sunday=0
        dow = (t.weekday() + 1) % 7
        day_ok = (
            (t.day in doms and dow in dows)
            if (dom_any or dow_any)
            else (t.day in doms or dow in dows)  # vixie OR rule
        )
        if (
            t.month in months
            and day_ok
            and t.hour in hours
            and t.minute in minutes
        ):
            return t
        t += timedelta(minutes=1)
    raise ValueError(f"no fire time within a year for {cron!r}")


def due_jobs(
    jobs: "list[JobSpec]", window_start: "datetime", window_end: "datetime"
) -> "list[JobSpec]":
    """Jobs whose schedule fires inside (window_start, window_end] —
    what one scheduler tick would enqueue.

    A malformed or unsatisfiable schedule (e.g. '0 0 31 2 *', for
    which cron_next raises after its bounded scan) marks that job
    not-due instead of aborting the whole tick — one bad JobSpec must
    not take down the scheduler.
    """
    due: "list[JobSpec]" = []
    for j in jobs:
        try:
            if cron_next(j.schedule, window_start) <= window_end:
                due.append(j)
        except ValueError:
            continue  # unsatisfiable/malformed schedule: never due
    return due


@dataclass
class JobSpec:
    name: str
    fn: Callable[..., Any]
    schedule: str = "0 9 * * *"  # cron text; evaluated by cron_next()
    depends_on: list[str] = field(default_factory=list)
    retries: int = 1  # reference default_args: 1 retry
    retry_delay_s: float = 0.0  # 300s in the reference; 0 for tests


@dataclass
class JobResult:
    name: str
    status: str  # SUCCESS | FAILED
    attempts: int
    result: Any = None
    error: str | None = None


class LocalScheduler:
    """Run a DAG of jobs for one logical date, honoring dependencies
    and per-job retry policy. A job whose dependency failed is
    SKIPPED (Airflow's default trigger rule)."""

    def __init__(self, jobs: list[JobSpec]):
        names = [j.name for j in jobs]
        if len(set(names)) != len(names):
            raise ValueError("duplicate job names")
        self.jobs = {j.name: j for j in jobs}
        unknown = {
            d for j in jobs for d in j.depends_on if d not in self.jobs
        }
        if unknown:
            raise ValueError(f"unknown dependencies: {sorted(unknown)}")

    def topo_order(self) -> list[str]:
        ts = TopologicalSorter(
            {n: list(j.depends_on) for n, j in self.jobs.items()}
        )
        return list(ts.static_order())

    def run(self, **kwargs: Any) -> dict[str, JobResult]:
        out: dict[str, JobResult] = {}
        for name in self.topo_order():
            job = self.jobs[name]
            if any(out[d].status != "SUCCESS" for d in job.depends_on):
                out[name] = JobResult(name, "SKIPPED", 0)
                continue
            attempts = 0
            last_err: str | None = None
            result = None
            while attempts <= job.retries:
                attempts += 1
                try:
                    result = job.fn(**kwargs)
                    last_err = None
                    break
                except Exception as ex:  # noqa: BLE001 — retry boundary
                    last_err = f"{type(ex).__name__}: {ex}"
                    if attempts <= job.retries and job.retry_delay_s:
                        time.sleep(job.retry_delay_s)
            out[name] = JobResult(
                name,
                "SUCCESS" if last_err is None else "FAILED",
                attempts,
                result=result,
                error=last_err,
            )
        return out


def daily_pipeline(sf_dir: str, sender: Any | None = None) -> list[JobSpec]:
    """The reference's daily ordering: profiling before DQ, DQ jobs
    fan out per table config (orchestrate.md:311-323 schedules), then
    a notification job delivers ``on_failure``/``on_warning`` payloads
    through ``sender`` (``example_templates.yaml:6-8``; defaults to
    :class:`~.operators.dq.LogSender` — production swaps in SMTP).

    Each DQ job computes its suite eagerly (``localCheckpoint``), so a
    suite that fails at run time fails its own job, whose retry re-runs
    it, and SUCCESS means the suite ran. Notify reads those
    materialized rows instead of recomputing the suites."""
    from .operators.dq import (
        CUSTOMER_DQ_CONFIG,
        EVENTS_DQ_CONFIG,
        DQEngine,
        LogSender,
        apply_thresholds,
        deliver_notifications,
    )
    from .operators.profile import PROFILE_TABLES, SimpleDataProfiler

    if sender is None:
        sender = LogSender()
    dq_results: dict[str, Any] = {}

    def profiling(spark):
        p = SimpleDataProfiler(spark)
        return p.with_run_metadata(
            p.profile_multiple_tables(PROFILE_TABLES, sf_dir)
        )

    def dq_job(name, cfg):
        def run(spark):
            df = DQEngine(spark).run(cfg, sf_dir=sf_dir).localCheckpoint()
            dq_results[name] = (df, cfg)
            return df

        return run

    def notify(spark):
        sent = []
        for df, cfg in dq_results.values():
            rows = [r.asDict() for r in apply_thresholds(df, cfg).collect()]
            sent.extend(deliver_notifications(rows, cfg, sender))
        return sent

    return [
        JobSpec("data_profiling", profiling, schedule="0 7 * * *"),
        JobSpec(
            "dq_customer", dq_job("dq_customer", CUSTOMER_DQ_CONFIG),
            schedule="0 9 * * *",
            depends_on=["data_profiling"],
        ),
        JobSpec(
            "dq_events", dq_job("dq_events", EVENTS_DQ_CONFIG),
            schedule="0 9 * * *",
            depends_on=["data_profiling"],
        ),
        JobSpec(
            "dq_notify", notify, schedule="0 10 * * *",
            depends_on=["dq_customer", "dq_events"],
        ),
    ]
