"""Recompute the DuckDB oracle hash of every spec the workloads check.

Each spec's ``oracle_sql`` runs in DuckDB over the raw parquet files,
apart from the engine's Spark code path, and its result is hashed in
the canonical form of ``canon.py``. The hashes, and a fingerprint of
the data they were computed from, go to ``perfbench/oracle_hashes.json``,
which every run compares its Spark results against.

Run from the repository root:
    python3 perfbench/oracle.py [sf_dir]
(default: the engine's data directory, ``$SPARK_GRAFT_SF_DIR`` or the
CLI's default).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "oracle_hashes.json")


def data_fingerprint(sf_dir: str, tables) -> dict[str, str]:
    """sha256 (16 hex digits) of each table file the oracles read."""
    out = {}
    for t in tables:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            out[t] = hashlib.sha256(fh.read()).hexdigest()[:16]
    return out


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import duckdb

    import __spark_entry__ as entry
    from canon import result_hash
    from gcp_dbt_data_engineering_spark.cli import DEFAULT_DATA_DIR
    from gcp_dbt_data_engineering_spark.sources import TABLES
    from workloads import oracle_specs

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_DATA_DIR

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET memory_limit = '4GB'")
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    specs = {}
    for name in oracle_specs():
        t0 = time.perf_counter()
        cur = con.execute(oracles[name])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        specs[name] = {"sha": result_hash(cols, rows), "rows": len(rows)}
        print(f"{name:40s} {len(rows):7d} rows {time.perf_counter() - t0:6.2f} s")
    doc = {
        "data": data_fingerprint(sf_dir, TABLES),
        "specs": specs,
    }
    with open(OUT, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(specs)} oracle hashes -> {os.path.relpath(OUT, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
