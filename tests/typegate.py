"""Typed-schema gate: DuckDB oracle result types must map to the exact
Spark result types, spec by spec.

The driver's correctness gate hashes VALUES WITH THEIR TYPES, so a
DuckDB HUGEINT (un-cast SUM over integers) against a Spark BIGINT
fails the hash even when the numbers are equal (round-1 lesson:
ADVICE.md). This script is the local tripwire: run every oracle
through DuckDB (LIMIT 0 — types only) and every Spark query's schema,
and diff the per-column type mapping. Run:

    python tests/typegate.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_harness import connect  # noqa: E402

DUCK_TO_SPARK = {
    "BIGINT": "bigint",
    "INTEGER": "int",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "HUGEINT": "!hugeint-no-spark-equivalent",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "TIMESTAMP": "timestamp_ntz",  # parquet NTZ convention in testdata
    "TIMESTAMP WITH TIME ZONE": "timestamp",
    "BLOB": "binary",
    "DOUBLE[]": "array<double>",
    "FLOAT[]": "array<float>",
    "BIGINT[]": "array<bigint>",
    "VARCHAR[]": "array<string>",
}


def duck_types(con, sql: str) -> list[tuple[str, str]]:
    rel = con.sql(f"SELECT * FROM ({sql}) LIMIT 0")
    return list(zip(rel.columns, [str(t) for t in rel.types]))


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as e
    from gcp_dbt_data_engineering_spark import get_spark

    spark = get_spark(app_name="typegate", shuffle_partitions=8,
                      master="local[8]")
    con = connect(sf)
    qs, oracles = e.queries(), e.oracle_sql()
    bad = 0
    for name, fn in sorted(qs.items()):
        if name not in oracles:
            continue
        try:
            s_schema = {f.name: f.dataType.simpleString()
                        for f in fn(spark, sf).schema.fields}
            d_schema = dict(duck_types(con, oracles[name]))
        except Exception as ex:  # noqa: BLE001
            bad += 1
            print(f"FAIL {name}: error {type(ex).__name__}: {ex}")
            continue
        if sorted(s_schema) != sorted(d_schema):
            bad += 1
            print(f"FAIL {name}: column sets differ "
                  f"spark={sorted(s_schema)} duck={sorted(d_schema)}")
            continue
        for c, dt in d_schema.items():
            # duckdb DECIMAL(p,s) etc. — map what we know, flag the rest
            mapped = DUCK_TO_SPARK.get(dt)
            if mapped is None:
                bad += 1
                print(f"FAIL {name}.{c}: unmapped duck type {dt} "
                      f"(spark={s_schema[c]})")
            elif mapped != s_schema[c]:
                bad += 1
                print(f"FAIL {name}.{c}: duck {dt}->{mapped} != "
                      f"spark {s_schema[c]}")
    print(f"typegate: {len(oracles)} oracles checked, {bad} problems")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
