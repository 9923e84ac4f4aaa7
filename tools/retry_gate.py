"""Task-retry determinism gate → RETRY_GATE.json.

A 1000-executor cluster loses tasks constantly (spot preemption, OOM
kills, disk faults); Spark re-runs them, and the ENGINE's outputs must
be bit-identical under those retries. Single-JVM `local[N]` never
retries, so none of the existing gates exercise this path.

Mechanism: the session runs under ``local[8,3]`` (maxFailures=3) and
every ``load_table`` result is wrapped in a pass-through
``mapInPandas`` whose FIRST attempt on partition 0 raises — so every
job that scans a base table pays at least one genuine task retry (the
retried attempt passes rows through untouched). Representative specs
from each operator family then run end-to-end and their canonical
output must EXACTLY match the DuckDB oracle on the same parquet —
the same rows+schema+hash bar as the correctness gate.

What this catches: retry-order-dependent accumulators, per-attempt
RNG/time dependence, non-idempotent Arrow kernels, partial-aggregate
state leaking across attempts. All engine arithmetic is deterministic
hashes + fixed-order folds, so the expected answer is: identical.

``SPECS``, ``_wrap_scans`` and ``run_specs`` are shared with
``tools/speculation_gate.py``.

Run:  python tools/retry_gate.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: one spec per operator family: scans+joins, global agg, window,
#: hash-threshold sampling, shingle dedup, LSH, quantized similarity,
#: Arrow mapInPandas kernel, sketch partials, per-day series, and the
#: k-means fit that semantic dedup materializes inside its builder.
SPECS = [
    "revenue_by_region",
    "pricing_summary",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_topk_cosine",
    "multimodal_byte_features",
    "text_token_stats",
    "sketch_hll_distinct_users",
    "stats_bootstrap_ci",
    "events_sessionize",
    "dedup_semantic",
]


def _wrap_scans(passthrough, partitions: int | None = None) -> None:
    """Route every ``load_table`` scan through ``mapInPandas(passthrough)``,
    after a repartition to ``partitions`` tasks when given. Patched on
    the registry AND on every module that imported the symbol directly."""
    import importlib
    import pkgutil

    import gcp_dbt_data_engineering_spark as pkg
    from gcp_dbt_data_engineering_spark.sources import registry

    real = registry.load_table

    def wrapped_load_table(spark, sf_dir, name):
        df = real(spark, sf_dir, name)
        if partitions:
            df = df.repartition(partitions)
        return df.mapInPandas(passthrough, schema=df.schema)

    patched = []
    for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(m.name)
        if getattr(mod, "load_table", None) is real:
            mod.load_table = wrapped_load_table
            patched.append(m.name)
    registry.load_table = wrapped_load_table
    print(f"patched load_table in {len(patched)} modules")


def run_specs(spark, sf_dir: str) -> tuple[dict[str, dict], int]:
    """Run every spec of ``SPECS`` and check it against its oracle.

    Memos are cleared before each spec, so each spec's own jobs scan
    (and meet the injected fault): a memo an earlier spec filled would
    hide, e.g., the k-means fit job. Returns the per-spec records and
    the number that did not pass.
    """
    import __spark_entry__ as entry
    from gcp_dbt_data_engineering_spark.session import clear_caches
    from tests.oracle_harness import check, connect

    con = connect(sf_dir)
    qs, oracles = entry.queries(), entry.oracle_sql()
    results: dict[str, dict] = {}
    for name in SPECS:
        clear_caches(spark)
        try:
            rec = check(qs[name](spark, sf_dir), oracles[name], con)
            ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
            results[name] = {"pass": ok, **rec}
        except Exception as exc:  # noqa: BLE001 - recorded, not raised
            results[name] = {"pass": False, "err": repr(exc)[:400]}
        print(("PASS " if results[name]["pass"] else "FAIL ") + name, flush=True)
    return results, sum(not r["pass"] for r in results.values())


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "RETRY_GATE.json"
    )
    # must be set before get_spark builds the SparkSession
    os.environ.setdefault("SPARK_GRAFT_MASTER", "local[8,3]")

    from gcp_dbt_data_engineering_spark import get_spark

    spark = get_spark(app_name="retry_gate")
    assert "local[8,3]" in spark.sparkContext.master
    # Spark DROPS accumulator updates from failed tasks, so the proof
    # that failures actually fired is a marker file appended by the
    # executor right before raising (valid here: local-mode executors
    # share the driver's filesystem). Zero lines at the end means the
    # gate was vacuous, and it fails.
    marker = os.path.join("/tmp", f"retry_gate_markers_{os.getpid()}.log")

    def passthrough(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx is not None and ctx.partitionId() == 0 and (
            ctx.attemptNumber() == 0
        ):
            with open(marker, "a") as f:
                f.write("injected\n")
            raise RuntimeError("retry-gate: injected first-attempt failure")
        yield from batches

    _wrap_scans(passthrough)
    results, n_fail = run_specs(spark, sf_dir)

    n_injected = 0
    if os.path.exists(marker):
        with open(marker) as f:
            n_injected = sum(1 for _ in f)
        os.remove(marker)
    if n_injected == 0:
        n_fail += 1  # vacuous run: no failure ever fired
    payload = {
        "master": spark.sparkContext.master,
        "sf_dir": sf_dir,
        "n_specs": len(SPECS),
        "n_fail": n_fail,
        "n_injected_failures": n_injected,
        "methodology": (
            "every load_table wrapped in a pass-through mapInPandas "
            "whose first attempt on partition 0 raises; memos cleared "
            "before each spec; session runs "
            "local[8,3] so Spark retries the task; spec output must "
            "hash-match the DuckDB oracle exactly"
        ),
        "specs": results,
    }
    with open(out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({"n_fail": n_fail, "out": out}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
