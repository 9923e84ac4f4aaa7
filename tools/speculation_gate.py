"""Speculative-execution determinism gate → SPECULATION_GATE.json.

``spark.speculation`` is ON in the engine's BUILDER_CONF
(session.py — a 1000-executor cluster always has stragglers), but no
gate previously PROVED that a duplicate speculative attempt cannot
double-count in any aggregate, accumulator, or write path: local[N]
rarely launches one, and when it does nothing checked the output.

Mechanism (VERDICT r8 item 6): the session runs on a REAL two-executor
``local-cluster[2,1,2048]`` with maximally aggressive speculation
(100 ms checks, 1.5x multiplier, 5 % quantile), and every
``load_table`` scan is widened to 8 tasks and wrapped in a
pass-through ``mapInPandas`` whose partition-0 FIRST attempt sleeps —
a guaranteed straggler the scheduler must flag. Representative specs
from each operator family then run end-to-end and must EXACTLY match
the DuckDB oracle (rows + canonical hash), the correctness-gate bar.

Honest single-host limitation, established empirically against Spark
4.1.2: the scheduler DOES mark the straggler ("Marking task 0 ... as
speculatable", TaskSetManager INFO), but ``dequeueSpeculativeTask``
hard-refuses to place a speculative copy on a host that already has
an attempt of the same task — and in local-cluster every executor
shares localhost, so the duplicate can never LAUNCH in this sandbox.
The gate therefore asserts the strongest single-machine evidence:
(a) the speculation machinery is live and flags stragglers (driver
log shows >= 1 marking), and (b) every spec's output is exact under
that regime. A true concurrent-duplicate launch needs a second host;
the sequential duplicate-attempt path (task retry) is separately
proven bit-exact by tools/retry_gate.py.

Self-capture: the parent process re-execs this script as a child
(SPEC_GATE_CHILD=1) with stderr captured, because the marking
evidence only exists in the driver's own log stream.

Run:  python tools/speculation_gate.py [sf_dir] [out_json]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# must be set before the session module builds the SparkSession
os.environ.setdefault("SPARK_GRAFT_MASTER", "local-cluster[2,1,2048]")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
os.environ.setdefault("PYTHONPATH", REPO)

#: how long the doomed first attempt sleeps — long enough that the
#: 100 ms speculation scan flags it against sub-second medians.
STRAGGLE_S = 8.0

#: one spec per operator family (same set as the retry gate): scans +
#: joins, global agg, windows, shingle dedup, LSH, quantized
#: similarity, Arrow kernel, sketch partials, per-day series.
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
]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "__NaN__"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _sha(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=repr
    )
    h = hashlib.sha256()
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def _install_straggling_scan_wrapper() -> str:
    """Wrap sources.load_table so every scan's partition 0 sleeps on
    its first attempt (attemptNumber 0). Speculative copies arrive
    with attemptNumber > 0 and run at full speed. Every attempt logs
    ``partition-attempt`` to the marker file (local-cluster executors
    share the driver's /tmp), so attempt numbers > 0 in the log prove
    speculative duplicates really ran."""
    import importlib
    import pkgutil

    import gcp_dbt_data_engineering_spark as pkg
    from gcp_dbt_data_engineering_spark.sources import registry

    real = registry.load_table
    marker = os.path.join(
        "/tmp", f"speculation_gate_markers_{os.getpid()}.log"
    )
    straggle = STRAGGLE_S

    def straggling_load_table(spark, sf_dir, name):
        # the tiny gate corpus scans as ONE task per stage, and the
        # quantile rule can never flag the only task (first run was
        # vacuous: 0 speculative attempts) — widen every scan to 8
        # tasks so 7 fast siblings establish the median the straggler
        # is judged against. Plan purity is irrelevant here; the gate
        # checks speculation semantics, and outputs stay oracle-gated.
        df = real(spark, sf_dir, name).repartition(8)
        schema = df.schema

        def passthrough(batches):
            import time as _t

            from pyspark import TaskContext

            ctx = TaskContext.get()
            if ctx is not None:
                with open(marker, "a") as f:
                    f.write(
                        f"{ctx.partitionId()}-{ctx.attemptNumber()}\n"
                    )
                if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
                    _t.sleep(straggle)
            yield from batches

        return df.mapInPandas(passthrough, schema=schema)

    patched = []
    for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(m.name)
        if getattr(mod, "load_table", None) is real:
            mod.load_table = straggling_load_table
            patched.append(m.name)
    registry.load_table = straggling_load_table
    print(f"patched load_table in {len(patched)} modules")
    return marker


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "SPECULATION_GATE.json"
    )

    import duckdb

    import __spark_entry__ as entry
    from gcp_dbt_data_engineering_spark import get_spark

    spark = get_spark(
        app_name="speculation_gate",
        extra_conf={
            "spark.speculation": "true",
            "spark.speculation.interval": "100ms",
            "spark.speculation.multiplier": "1.5",
            "spark.speculation.quantile": "0.05",
            # single-task stages (tiny dims) can also speculate: any
            # task over this wall-clock in a stage with <= 1 task per
            # executor gets a duplicate attempt
            "spark.speculation.task.duration.threshold": "2s",
        },
    )
    assert "local-cluster" in spark.sparkContext.master
    # the marking evidence is a TaskSetManager INFO line; the default
    # session level (WARN) suppresses it, and on this Spark build the
    # console appender passes DEBUG but filters bare INFO (observed:
    # setLogLevel("INFO") emits nothing, "DEBUG" emits both) — so DEBUG
    # it is; the parent captures stderr in memory and greps it.
    spark.sparkContext.setLogLevel("DEBUG")
    marker = _install_straggling_scan_wrapper()

    con = duckdb.connect()
    from gcp_dbt_data_engineering_spark.sources import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entry.queries(), entry.oracle_sql()
    results: dict[str, dict] = {}
    n_fail = 0
    for name in SPECS:
        try:
            df = qs[name](spark, sf_dir)
            s_rows = [tuple(r) for r in df.collect()]
            s_sha = _sha(df.columns, s_rows)
            cur = con.execute(oracles[name])
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
            o_sha = _sha(o_cols, o_rows)
            ok = s_sha == o_sha and len(s_rows) == len(o_rows)
            results[name] = {
                "pass": ok,
                "spark_rows": len(s_rows),
                "oracle_rows": len(o_rows),
                "spark_sha": s_sha,
                "oracle_sha": o_sha,
            }
        except Exception as exc:  # noqa: BLE001 - recorded, not raised
            ok = False
            results[name] = {"pass": False, "error": repr(exc)[:400]}
        if not ok:
            n_fail += 1
        print(name, "PASS" if ok else "FAIL", flush=True)

    attempts = []
    if os.path.exists(marker):
        with open(marker) as f:
            attempts = [ln.strip() for ln in f if ln.strip()]
    n_speculative = sum(
        1 for a in attempts if int(a.rsplit("-", 1)[1]) > 0
    )
    summary = {
        "master": spark.sparkContext.master,
        "sf_dir": sf_dir,
        "n_specs": len(SPECS),
        "n_pass": len(SPECS) - n_fail,
        "n_fail": n_fail,
        "n_task_attempts_logged": len(attempts),
        "n_launched_speculative_attempts": n_speculative,
        "specs": results,
    }
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print(
        f"speculation_gate child: {summary['n_pass']}/{len(SPECS)} pass, "
        f"{n_speculative} launched speculative attempts -> {out}"
    )
    spark.stop()
    try:
        os.remove(marker)
    except OSError:
        pass
    return 1 if n_fail else 0


def parent() -> int:
    """Re-exec as a child with stderr captured; add the marking
    evidence (which only exists in the driver log) to the artifact."""
    import re
    import subprocess

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "SPECULATION_GATE.json"
    )
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir, out],
        env={**os.environ, "SPEC_GATE_CHILD": "1"},
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    sys.stdout.write(proc.stdout)
    markings = re.findall(
        r"Marking task \d+ in stage \S+ .* as speculatable", proc.stderr
    )
    with open(out) as f:
        summary = json.load(f)
    summary["n_straggler_markings"] = len(markings)
    summary["marking_sample"] = markings[:3]
    summary["single_host_launch_note"] = (
        "speculative copies cannot LAUNCH in local-cluster (the "
        "scheduler refuses a host that already has an attempt and all "
        "executors share localhost); markings prove the speculation "
        "machinery flags stragglers, outputs stay oracle-exact, and "
        "sequential duplicate attempts are covered by retry_gate"
    )
    vacuous = len(markings) == 0
    if vacuous:
        summary["n_fail"] = summary.get("n_fail", 0) + 1
        summary["vacuous"] = True
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print(
        f"speculation_gate: {summary['n_pass']}/{summary['n_specs']} "
        f"pass, {len(markings)} straggler markings -> {out}"
    )
    if vacuous:
        print("FAIL: scheduler never marked the straggler (vacuous run)")
        return 1
    return proc.returncode


if __name__ == "__main__":
    raise SystemExit(
        main() if os.environ.get("SPEC_GATE_CHILD") else parent()
    )
