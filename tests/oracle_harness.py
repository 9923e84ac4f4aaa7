"""The one check of a spec against its DuckDB oracle.

Tests, ``tools/correctness_full.py``, the fault gates, ``tests/typegate.py``
and ``bench.py`` all register the source tables with :func:`connect` and
compare with :func:`check`. The comparison is exact, the form of
``perfbench/canon.py``: columns sorted by name, NaN as a sentinel, lists
as tuples, dicts as sorted item tuples, rows sorted by ``repr`` and
values compared as collected Python objects, with no rounding.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import os
from typing import Any

import duckdb

from gcp_dbt_data_engineering_spark.sources import TABLES, table_path


def _norm(v: Any) -> Any:
    if isinstance(v, float) and math.isnan(v):
        return "__NaN__"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-insensitive exact form of a result (see module docstring)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(row[i]) for i in order) for row in rows), key=repr
    )


def result_sha(rows: list[tuple]) -> str:
    """First 16 hex digits of a sha256 over the reprs of canonical rows."""
    h = hashlib.sha256()
    for row in rows:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with a view per source table present in
    ``sf_dir``.

    The oracle engine is bounded: DuckDB's default memory limit is ~80 %
    of RAM, which beside a Spark driver JVM gets the process OOM-killed
    at large SFs, and an unbounded spill once filled the disk on a
    quadratic oracle. Capped, a big oracle spills to the temp dir, up to
    a cap. A partial sf dir (e.g. documents + embeddings only) gets views
    for the tables it has.
    """
    con = duckdb.connect()
    con.execute(
        f"SET memory_limit = '{os.environ.get('DUCKDB_MEMORY_LIMIT', '16GB')}'"
    )
    con.execute(
        "SET temp_directory = "
        f"'{os.environ.get('DUCKDB_TEMP_DIR', '/tmp/duckdb_spill')}'"
    )
    con.execute(
        "SET max_temp_directory_size = "
        f"'{os.environ.get('DUCKDB_TEMP_MAX', '60GB')}'"
    )
    for t in TABLES:
        if os.path.exists(table_path(sf_dir, t)):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(sf_dir, t)}')"
            )
    return con


def check(df, oracle_sql: str, con: duckdb.DuckDBPyConnection) -> dict:
    """Collect ``df``, run ``oracle_sql`` on ``con`` and compare exactly.

    ``first_diff`` (the first pair of canonical rows that differ, as
    truncated reprs) is present only when the results differ.
    """
    s_cols = df.columns
    s_rows = [tuple(r) for r in df.collect()]
    cur = con.execute(oracle_sql)
    d_cols = [d[0] for d in cur.description]
    d_rows = cur.fetchall()
    s_canon, d_canon = canon(s_cols, s_rows), canon(d_cols, d_rows)
    rec = {
        "spark_rows": len(s_rows),
        "oracle_rows": len(d_rows),
        "rows_match": len(s_rows) == len(d_rows),
        "schema_match": sorted(s_cols) == sorted(d_cols),
        "hash_match": s_canon == d_canon,
        "spark_sha": result_sha(s_canon),
        "oracle_sha": result_sha(d_canon),
        "oracle_text_sha": hashlib.sha256(oracle_sql.encode()).hexdigest()[:16],
    }
    if not (rec["rows_match"] and rec["schema_match"] and rec["hash_match"]):
        rec["first_diff"] = next(
            (
                {"spark": repr(a)[:200], "duck": repr(b)[:200]}
                for a, b in itertools.zip_longest(s_canon, d_canon)
                if a != b
            ),
            {"spark_cols": sorted(s_cols), "duck_cols": sorted(d_cols)},
        )
    return rec


_CONNECTIONS: dict[str, duckdb.DuckDBPyConnection] = {}


def compare(spark_df, oracle: str, sf_dir: str) -> dict:
    """:func:`check` on one connection per ``sf_dir``; ``match`` is True
    when rows, schema and values all agree."""
    if sf_dir not in _CONNECTIONS:
        _CONNECTIONS[sf_dir] = connect(sf_dir)
    rec = check(spark_df, oracle, _CONNECTIONS[sf_dir])
    return {
        "match": rec["rows_match"] and rec["schema_match"] and rec["hash_match"],
        **rec,
    }
