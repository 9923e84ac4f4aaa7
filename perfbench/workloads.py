"""The workloads: which engine calls one pass makes, and how.

An *operation* is one call into the engine's public API whose result
the benchmark fetches and checks. Spec operations call a registered
``QuerySpec`` builder; ``daily_pipeline`` runs the orchestration
layer's scheduler over the reference project's daily job graph.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

#: workload -> the operations of one pass, in groups. The first group
#: opens every pass, so the first use of the staged tables always lands
#: in the same operations; the seed sets the order of the other groups.
#: Within a group the order is fixed. Derived memos are kept across the
#: operations of a pass and dropped between passes.
WORKLOADS: dict[str, tuple[tuple[str, ...], ...]] = {
    # the daily job, then the seed models and one read query per family
    # of the reports that run on the day's data
    "dbt_daily": (
        ("daily_pipeline",),
        ("dbt_seed_models",),
        ("brand_stats",),  # analytics
        ("forecast_revenue_delta",),  # tpch_shapes
        ("customer_orders_running",),  # windows
        ("orders_unpivot_metrics",),  # stats
        ("sketch_kmv_distinct_users",),  # sketch
        ("events_sessionize",),  # streaming.events
    ),
    # each group of two shares a memo: the first operation builds it and
    # the second reads it. Which operation builds a memo changes the work
    # (building the quantized vectors in dedup_semantic takes 10 more
    # Spark jobs than in similarity_topk_cosine), so the builder is fixed.
    "corpus_session": (
        ("dedup_minhash_lsh", "text_ngram_novelty"),  # shingle rows
        ("multimodal_meta", "multimodal_resize_plan"),  # decoded assets
        ("similarity_topk_cosine", "dedup_semantic"),  # quantized vectors
        ("split_train_val_test",),  # pipeline
    ),
}


def operations(workload: str) -> list[str]:
    return [op for group in WORKLOADS[workload] for op in group]


#: operator families reported per layer: a spec's module name, and
#: ``orchestration`` for the scheduler operation
FAMILIES = (
    "orchestration",
    "analytics",
    "tpch_shapes",
    "windows",
    "stats",
    "sketch",
    "events",
    "dedup",
    "text",
    "multimodal",
    "similarity",
    "semdedup",
    "pipeline",
)

#: scheduler job -> the spec whose oracle its result must equal, and
#: the result columns the job adds on top of that spec (run metadata)
PIPELINE_CHECKS: dict[str, tuple[str | None, tuple[str, ...]]] = {
    "data_profiling": ("profile_core_tables", ("run_id", "environment")),
    "dq_customer": ("dq_customer_suite", ()),
    "dq_events": ("dq_events_daily_slice", ()),
    "dq_notify": (None, ()),
}


def oracle_specs() -> list[str]:
    """Every spec whose oracle hash some workload checks against."""
    names = [n for w in WORKLOADS for n in operations(w) if n != "daily_pipeline"]
    names += [s for s, _ in PIPELINE_CHECKS.values() if s]
    return sorted(set(names))


@dataclass
class Result:
    """One checked output of an operation."""

    label: str  # operation name, or daily_pipeline/<job>
    oracle: str | None  # spec whose oracle hash it must match
    cols: list[str] | None = None
    rows: list[tuple] | None = None
    error: str | None = None


class Fetcher:
    """Fetches results inside the measured window and times each fetch."""

    def __init__(self, clock: Callable[[], float], phases: bool = False):
        self.clock = clock
        self.windows: list[tuple[float, float]] = []
        self.bytes = 0
        #: epoch-ms window of each scheduler job, when the op runs one
        self.spans: dict[str, tuple[float, float]] = {}
        #: summed Catalyst phase ms of the fetched queries, when asked
        self.phases: dict[str, int] | None = {} if phases else None

    def __call__(self, df) -> tuple[list[str], list[tuple]]:
        from pyspark.sql.conversion import ArrowTableToRowsConversion

        t0 = self.clock()
        try:
            table = df.toArrow()
            self.bytes += table.nbytes
            # the values collect() would return, as the oracle hashes them
            rows = ArrowTableToRowsConversion.convert(
                table, df.schema, return_as_tuples=True
            )
        finally:
            self.windows.append((t0, self.clock()))
        if self.phases is not None:
            from probes import planner_phases_ms

            for k, v in planner_phases_ms(df).items():
                self.phases[k] = self.phases.get(k, 0) + v
        return df.columns, rows


def run_op(name: str, spark, sf_dir: str, specs: dict, fetch: Fetcher) -> list[Result]:
    """Run one operation; exceptions become failed results, not aborts."""
    if name == "daily_pipeline":
        return _daily_pipeline(spark, sf_dir, fetch)
    try:
        cols, rows = fetch(specs[name].spark(spark, sf_dir))
        return [Result(name, name, cols, rows)]
    except Exception as ex:  # noqa: BLE001 — a failed op is counted, not fatal
        return [Result(name, name, error=f"{type(ex).__name__}: {ex}")]


def _daily_pipeline(spark, sf_dir: str, fetch: Fetcher) -> list[Result]:
    """``LocalScheduler`` over ``daily_pipeline``, each job's result fetched.

    The scheduler marks a job SUCCESS when its callable returns, and the
    profiling and DQ callables return lazy DataFrames; each callable is
    wrapped so its result is computed (and can fail) inside the job.
    A job that returns anything but a DataFrame where an oracle is
    expected, or a scheduler that raises, fails the job's results.
    """
    from gcp_dbt_data_engineering_spark.orchestration import (
        LocalScheduler,
        daily_pipeline,
    )

    fetched: dict[str, Any] = {}

    def computed(job_name: str, fn):
        def run(spark):
            t0 = fetch.clock()
            try:
                out = fn(spark)
                if hasattr(out, "toArrow"):
                    fetched[job_name] = fetch(out)
                else:
                    fetched[job_name] = type(out).__name__
                return out
            finally:
                fetch.spans[job_name] = (t0, fetch.clock())

        return run

    try:
        jobs = daily_pipeline(sf_dir)
        for j in jobs:
            j.fn = computed(j.name, j.fn)
        ran = LocalScheduler(jobs).run(spark=spark)
    except Exception as ex:  # noqa: BLE001 — counted against every job
        err = f"{type(ex).__name__}: {ex}"
        return [
            Result(f"daily_pipeline/{job_name}", oracle, error=err)
            for job_name, (oracle, _) in PIPELINE_CHECKS.items()
        ]
    return [
        _job_result(job_name, oracle, extra, ran.get(job_name), fetched.get(job_name))
        for job_name, (oracle, extra) in PIPELINE_CHECKS.items()
    ]


def _job_result(job_name, oracle, extra, jr, got) -> Result:
    label = f"daily_pipeline/{job_name}"
    if jr is None or jr.status != "SUCCESS":
        err = jr.error if jr is not None else "job not run"
        return Result(label, oracle, error=f"{jr and jr.status}: {err}")
    if oracle is None:
        return Result(label, None)
    if not isinstance(got, tuple):
        return Result(label, oracle, error=f"returned {got}, not a DataFrame")
    cols, rows = got
    keep = [i for i, c in enumerate(cols) if c not in extra]
    return Result(
        label,
        oracle,
        [cols[i] for i in keep],
        [tuple(r[i] for i in keep) for r in rows],
    )
