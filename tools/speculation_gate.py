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
a guaranteed straggler the scheduler must flag. The retry gate's
representative specs (one per operator family) then run end-to-end,
memos cleared before each, and must EXACTLY match the DuckDB oracle
(rows + canonical hash), the correctness-gate bar.

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

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# must be set before the session module builds the SparkSession
os.environ.setdefault("SPARK_GRAFT_MASTER", "local-cluster[2,1,2048]")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
os.environ.setdefault("PYTHONPATH", REPO)

from retry_gate import SPECS, _wrap_scans, run_specs  # noqa: E402

#: how long the doomed first attempt sleeps — long enough that the
#: 100 ms speculation scan flags it against sub-second medians.
STRAGGLE_S = 8.0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "SPECULATION_GATE.json"
    )

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
    # Every attempt logs ``partition-attempt`` to the marker file
    # (local-cluster executors share the driver's /tmp), so attempt
    # numbers > 0 in the log prove speculative duplicates really ran.
    marker = os.path.join(
        "/tmp", f"speculation_gate_markers_{os.getpid()}.log"
    )
    straggle = STRAGGLE_S

    def passthrough(batches):
        # partition 0 sleeps on its first attempt (attemptNumber 0);
        # speculative copies arrive with attemptNumber > 0 and run at
        # full speed
        import time as _t

        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx is not None:
            with open(marker, "a") as f:
                f.write(f"{ctx.partitionId()}-{ctx.attemptNumber()}\n")
            if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
                _t.sleep(straggle)
        yield from batches

    # the tiny gate corpus scans as ONE task per stage, and the
    # quantile rule can never flag the only task (first run was
    # vacuous: 0 speculative attempts) — widen every scan to 8 tasks so
    # 7 fast siblings establish the median the straggler is judged
    # against. Plan purity is irrelevant here; the gate checks
    # speculation semantics, and outputs stay oracle-gated.
    _wrap_scans(passthrough, partitions=8)
    results, n_fail = run_specs(spark, sf_dir)

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
