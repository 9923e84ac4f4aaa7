"""Full-coverage local replica of the driver's correctness gate.

The external driver samples 50 of the ~102 specs per round, so most
specs accumulate driver evidence slowly (VERDICT r2 item 1: 41 specs
never sampled).  This script runs EVERY ``queries()`` entry through
Spark and its ``oracle_sql()`` twin through DuckDB at sf0.01 — the same
scale the driver uses — and records the same row/schema/hash verdicts
plus a sha256 of the canonical result, writing ``CORRECTNESS_full.json``
at the repo root for the judge to audit.

Comparison is EXACT, ``tests/oracle_harness.check``: no float rounding,
columns sorted by name, rows sorted lexicographically, values compared
as collected Python objects.  That is at least as strict as the
driver's pandas-sort + value-hash.

Oracle-drift guard: each record carries ``oracle_text_sha`` (a hash of
the oracle SQL text). Before overwriting its output file the run reads
the recorded hashes, prints the specs whose oracle text changed and
stores them as ``oracle_text_changed``; specs with no recorded hash are
counted under ``oracle_text_unrecorded``. The file compared against is
recorded as ``oracle_baseline``; when the output file does not exist
yet there is nothing to compare, the baseline and both drift fields are
``null`` and the summary says "oracle texts not compared".

Run:  python tools/correctness_full.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys
import traceback
from typing import Any

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.oracle_harness import check, connect  # noqa: E402


def oracle_drift(previous: dict, current: dict) -> tuple[list[str], int]:
    """Specs whose ``oracle_text_sha`` differs between two ``specs``
    maps, and the number of specs ``previous`` has no hash for."""
    changed, unrecorded = [], 0
    for name, rec in sorted(current.items()):
        if "oracle_text_sha" not in rec:
            continue
        old = previous.get(name, {}).get("oracle_text_sha")
        if old is None:
            unrecorded += 1
        elif old != rec["oracle_text_sha"]:
            changed.append(name)
    return changed, unrecorded


def drift_report(baseline: str | None, current: dict) -> tuple[dict, str]:
    """The drift fields of the output JSON for ``current`` compared
    against the ``baseline`` gate file (``None``: no file), and the
    summary line's drift phrase."""
    if baseline is None:
        fields = dict.fromkeys(
            ("oracle_baseline", "oracle_text_changed", "oracle_text_unrecorded")
        )
        return fields, "oracle texts not compared"
    with open(baseline) as f:
        changed, unrecorded = oracle_drift(json.load(f).get("specs", {}), current)
    for name in changed:
        print(f"ORACLE TEXT CHANGED {name}")
    fields = {
        "oracle_baseline": os.path.relpath(baseline, REPO),
        "oracle_text_changed": changed,
        "oracle_text_unrecorded": unrecorded,
    }
    return fields, f"{len(changed)} oracle texts changed"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry
    from gcp_dbt_data_engineering_spark import get_spark

    spark = get_spark(app_name="correctness_full")
    specs = entry._all_specs()
    only = os.environ.get("SPECS_ONLY")  # regex over spec names
    if only:
        rx = re.compile(only)
        specs = {n: s for n, s in specs.items() if rx.search(n)}

    con = connect(sf_dir)
    # Oracles that are intractable in DuckDB at the chosen SF (e.g. a
    # hot-shingle self-join that spills > disk at sf10) can be demoted
    # to the driver's weaker rows-only check without editing specs.
    oracle_skip = None
    if os.environ.get("ORACLE_SKIP"):
        oracle_skip = re.compile(os.environ["ORACLE_SKIP"])

    out: dict[str, dict] = {}
    n_pass = n_weak = n_fail = 0
    # Long sweeps at big SFs accumulate shuffle files from completed
    # specs in the block manager: nothing references them once a spec's
    # collect() finished, but the JVM only deletes them when GC runs and
    # the ContextCleaner sees the shuffle dependency is unreachable.
    # At sf100 that stranded >30 GB of dead shuffle in /tmp and starved
    # later specs into "No space left on device". GC_EACH_SPEC=1 nudges
    # a full GC between specs so the cleaner reclaims them promptly.
    # The Python-side gc.collect() must come first: py4j keeps the
    # completed DataFrames' JVM plans reachable until their Python
    # wrappers are collected, which pins every ShuffleDependency and
    # defeats the JVM GC (observed live: jcmd GC.run reclaimed nothing
    # while the sweep's Python process still held the wrappers).
    gc_each = os.environ.get("GC_EACH_SPEC") == "1"
    for name, spec in specs.items():
        if gc_each:
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        rec: dict[str, Any] = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            df = spec.spark(spark, sf_dir)
            skipped = oracle_skip is not None and oracle_skip.search(name)
            if spec.oracle is None or skipped:
                # driver's weaker rows-only check for non-SQL ops
                rec["spark_rows"] = len(df.collect())
                rec["rows_match"] = rec["schema_match"] = True
                rec["hash_match"] = (
                    "rows-only (oracle intractable at this sf)"
                    if skipped
                    else "rows-only"
                )
                n_weak += 1
                out[name] = rec
                print(f"WEAK  {name}: {rec['spark_rows']} rows (no oracle)")
                continue
            rec.update(check(df, spec.oracle, con))
            ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
            n_pass += ok
            n_fail += not ok
            status = "PASS " if ok else "FAIL*"
            print(
                f"{status} {name}: spark={rec['spark_rows']} "
                f"duck={rec['oracle_rows']}"
            )
            if not ok:
                print(f"      first_diff: {rec['first_diff']}")
        except Exception:  # noqa: BLE001
            rec["err"] = traceback.format_exc(limit=3)
            n_fail += 1
            print(f"ERROR {name}:\n{rec['err']}")
        out[name] = rec

    path = os.path.join(
        REPO, os.environ.get("CORRECTNESS_OUT", "CORRECTNESS_full.json")
    )
    drift, drift_phrase = drift_report(
        path if os.path.exists(path) else None, out
    )
    with open(path, "w") as f:
        json.dump(
            {
                "sf_dir": sf_dir,
                "n_specs": len(specs),
                "n_pass": n_pass,
                "n_rows_only": n_weak,
                "n_fail": n_fail,
                **drift,
                "specs": out,
            },
            f,
            indent=1,
        )
    print(
        f"\ncorrectness_full: {len(specs)} specs — {n_pass} exact-pass, "
        f"{n_weak} rows-only, {n_fail} fail, {drift_phrase} -> {path}"
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
