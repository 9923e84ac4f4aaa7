"""Config-driven data-quality engine (reference parity core).

Re-implements the five check families of the reference's
``SimpleDataQualityFunctions`` (``tests/dq_sql_notes.md:59-257``) and its
YAML config surface (``tests/example_templates.yaml``), restructured for
Spark's execution model:

- The reference launches **2 + #checks Spark jobs per family** (a
  ``count()`` action per column/rule — ``dq_sql_notes.md:77,84,117,...``).
  Here every completeness/format/range/custom check compiles into a
  single ``agg`` pass over the table — ``count(when(violation, 1))``
  per check + one ``count(*)`` — i.e. ONE scan and ONE job regardless
  of check count. At 100 TB that's the difference between N full scans
  and one.
- Uniqueness checks need a shuffle on their key columns: each is one
  ``groupBy`` per key combination (``dq_sql_notes.md:116-117``) and ONE
  aggregate over its group counts, which yields both the duplicated
  groups and the row total (the counts sum to it), so no check re-scans
  the table. Every branch is unioned into the same lazily-built results
  DataFrame. Nothing is collected here; the caller decides the action
  or sink (``orchestration.daily_pipeline`` materializes it once, in
  the DQ job itself).
- Results are rows in a fixed schema (tests-as-data idiom,
  ``dq_sql_notes.md:87-97``), one row per check.

Reference semantic traps handled (SURVEY.md §7 risk register):

- ``isnan`` applies only to float columns; the reference calls it
  unconditionally and would throw on strings (``dq_sql_notes.md:83``).
  We guard by dtype: string → NULL or ``''``; float → NULL or NaN;
  everything else → NULL only.
- format rules declared in configs but unimplemented by the reference
  (``numeric_11``, ``email_format``, ``phone_format`` —
  ``example_templates.yaml:27,87-88``, silently skipped by
  ``dq_sql_notes.md:147-161``) are implemented here; genuinely unknown
  rules yield a SKIPPED row instead of the reference's silent PASS.
- NULL handling mirrors the reference's ``filter(...)`` counting: a
  predicate that evaluates to NULL does not count as a violation,
  except in ``range`` checks where NULL is an explicit violation
  (``dq_sql_notes.md:195-201``).
"""

from __future__ import annotations

import os
from typing import Any, Protocol

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import REPO_ROOT
from ..plans.spec import QuerySpec
from ..security import validate_config
from ..sources import TABLE_DTYPES, load_table

RESULT_FIELDS = [
    ("test_date", "string"),
    ("test_name", "string"),
    ("test_category", "string"),
    ("status", "string"),
    ("failed_records", "bigint"),
    ("total_records", "bigint"),
    ("failure_rate", "double"),
    ("column_name", "string"),
    ("rule", "string"),
    ("key_columns", "string"),
    ("sql_condition", "string"),
    ("min_value", "double"),
    ("max_value", "double"),
    ("severity", "string"),
]

_TYPE_MAP = {
    "string": T.StringType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
}
RESULT_SCHEMA = T.StructType(
    [T.StructField(n, _TYPE_MAP[t]) for n, t in RESULT_FIELDS]
)

#: format rule → (regex, negate_on_match) or special handling.
#: length_3/positive/not_empty per dq_sql_notes.md:150-161; numeric_11 /
#: email_format / phone_format close the reference's declared-but-
#: unimplemented gap (example_templates.yaml:27,87-88).
FORMAT_REGEX_RULES = {
    "length_3": r"^[A-Z]{3}$",
    "numeric_11": r"^[0-9]{11}$",
    "email_format": r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$",
    "phone_format": r"^\+?[0-9]{7,15}$",
}


class _Check:
    """One compiled single-pass check: metadata + violation condition.

    ``cond`` is Spark-SQL TEXT, not a Column: the whole engine compiles
    config -> SQL strings end-to-end so one selectExpr carries the
    single-pass aggregate (a Column-object build costs a Py4J
    round-trip per operator — measured ~0.85 s/run of socket chatter
    on an 11-check suite).
    """

    def __init__(self, cond: str | None, skipped: bool = False, **meta: Any):
        self.cond = cond
        self.skipped = skipped
        self.meta = meta


def _string_kind(dtype: str) -> str:
    if dtype in ("string", "varchar"):
        return "string"
    if dtype in ("double", "float"):
        return "float"
    return "other"


def _completeness_cond(col: str, kind: str) -> str:
    if kind == "string":
        return f"({col} IS NULL OR {col} = '')"
    if kind == "float":
        # isnan guarded by dtype — the reference applies it blindly and
        # throws on non-numerics (dq_sql_notes.md:83, SURVEY §7 risks)
        return f"({col} IS NULL OR isnan({col}))"
    return f"({col} IS NULL)"


def _severity_for(columns: list[str], critical: set[str]) -> str:
    return "ERROR" if any(c in critical for c in columns) else "WARNING"


def compile_checks(
    config: dict[str, Any], dtypes: dict[str, str]
) -> tuple[list[_Check], list[dict[str, Any]]]:
    """Compile config → (single-pass checks, uniqueness specs)."""
    tests = config.get("tests", {})
    critical = set(
        config.get("quality_thresholds", {}).get("critical_columns", [])
    )
    checks: list[_Check] = []

    for col in tests.get("completeness", []):
        kind = _string_kind(dtypes.get(col, "other"))
        checks.append(
            _Check(
                _completeness_cond(col, kind),
                test_name=f"completeness_{col}",
                test_category="completeness",
                column_name=col,
                severity=_severity_for([col], critical),
            )
        )

    for col, rule in tests.get("format", {}).items():
        meta = dict(
            test_name=f"format_{col}_{rule}",
            test_category="format",
            column_name=col,
            rule=rule,
            severity=_severity_for([col], critical),
        )
        if rule in FORMAT_REGEX_RULES:
            # NULLs don't count: rlike(NULL) is NULL → when() skips it,
            # matching the reference's filter() semantics.
            # regex rules apply to the string form: numeric ids (e.g.
            # the reference's numeric_11 rut check) cast first, exactly
            # as the oracle does (bigint→string is identical text in
            # both engines).
            rx = FORMAT_REGEX_RULES[rule].replace("\\", "\\\\")
            checks.append(
                _Check(
                    f"(NOT CAST({col} AS STRING) RLIKE '{rx}')",
                    **meta,
                )
            )
        elif rule == "positive":
            checks.append(_Check(f"({col} <= 0)", **meta))
        elif rule == "not_empty":
            checks.append(_Check(f"({col} IS NULL OR {col} = '')", **meta))
        else:
            checks.append(_Check(None, skipped=True, **meta))

    for col, bounds in tests.get("range", {}).items():
        ok = f"{col} IS NOT NULL"
        if bounds.get("min") is not None:
            ok += f" AND {col} >= CAST({float(bounds['min'])!r} AS DOUBLE)"
        if bounds.get("max") is not None:
            ok += f" AND {col} <= CAST({float(bounds['max'])!r} AS DOUBLE)"
        # NOT(ok): NULL column → ok is false → violation counts, matching
        # the reference (~condition over isNotNull conjunction).
        checks.append(
            _Check(
                f"(NOT ({ok}))",
                test_name=f"range_{col}",
                test_category="range",
                column_name=col,
                min_value=(
                    float(bounds["min"]) if bounds.get("min") is not None else None
                ),
                max_value=(
                    float(bounds["max"]) if bounds.get("max") is not None else None
                ),
                severity=_severity_for([col], critical),
            )
        )

    for custom in tests.get("custom_sql", []):
        cond = custom.get("sql_condition", custom.get("sql", ""))
        checks.append(
            _Check(
                f"(NOT ({cond}))",
                test_name=f"custom_{custom['test_name']}",
                test_category="custom",
                sql_condition=cond,
                severity=custom.get("severity", "ERROR"),
            )
        )

    uniq = [
        {
            "keys": list(combo),
            "test_name": "uniqueness_" + "_".join(combo),
            "key_columns": ",".join(combo),
            "severity": _severity_for(list(combo), critical),
        }
        for combo in tests.get("uniqueness", [])
    ]
    return checks, uniq


def _sql_lit(v: Any, typ: str) -> str:
    """Typed SQL literal (same text Spark and the oracle compiler use)."""
    if v is None:
        return f"CAST(NULL AS {typ.upper()})"
    if typ == "string":
        return "'" + str(v).replace("'", "''") + "'"
    if typ == "double":
        return f"CAST({float(v)!r} AS DOUBLE)"
    return f"CAST({v} AS {typ.upper()})"


class DQEngine:
    """Compile + run a DQ job config against one table.

    ``run`` returns the results DataFrame lazily — callers append it to
    a results table / show it, mirroring the reference's results-sink
    flow (``tests/profiling_example.py:24-31``). The plan is one
    aggregate scan for the single-pass checks plus one grouped
    aggregate per uniqueness check; a caller that reads the results
    more than once materializes them itself (``daily_pipeline``
    checkpoints each suite in its DQ job).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def run(
        self,
        config: dict[str, Any],
        df: DataFrame | None = None,
        sf_dir: str | None = None,
    ) -> DataFrame:
        validate_config(config)
        table = config["table_name"].split(".")[-1]
        if df is None:
            df = load_table(self.spark, sf_dir, table)

        fecha = config.get("fecha")
        date_column = config.get("date_column")
        if fecha and date_column:
            df = df.filter(
                F.col(date_column).cast("date") == F.lit(fecha).cast("date")
            )

        dtypes = dict(df.dtypes)
        checks, uniq = compile_checks(config, dtypes)

        # ---- single pass: one agg row with count(*) + one counter/check,
        # the whole thing one selectExpr (conds are SQL text)
        aggs = ["COUNT(1) AS __total"]
        for i, ch in enumerate(checks):
            if ch.skipped:
                continue
            aggs.append(
                f"COUNT(CASE WHEN {ch.cond} THEN 1 END) AS __c{i}"
            )
        base = df.selectExpr(*aggs)

        # Result rows are generated as SQL TEXT, not Column objects:
        # every F.lit/.cast/.alias is a Py4J round-trip, and the ~300
        # calls this projection needs cost ~0.85 s/run in socket
        # chatter alone (profiled). String building is free; Spark
        # parses + analyzes the one selectExpr once.
        fields = dict(RESULT_FIELDS)
        date_sql = _sql_lit(fecha if fecha else "ALL", "string")

        def meta_sql(ch: _Check, key: str) -> str:
            return _sql_lit(ch.meta.get(key), fields[key])

        def result_struct_sql(ch: _Check, failed: str) -> str:
            if ch.skipped:
                status = "'SKIPPED'"
                rate = "CAST(0.0 AS DOUBLE)"
            else:
                status = (
                    f"CASE WHEN {failed} = 0 THEN 'PASS' ELSE 'FAIL' END"
                )
                rate = (
                    f"CASE WHEN __total > 0 THEN CAST({failed} AS DOUBLE)"
                    " / CAST(__total AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
                )
            return (
                "named_struct("
                f"'test_date', {date_sql},"
                f" 'test_name', {meta_sql(ch, 'test_name')},"
                f" 'test_category', {meta_sql(ch, 'test_category')},"
                f" 'status', {status},"
                f" 'failed_records', CAST({failed} AS BIGINT),"
                " 'total_records', CAST(__total AS BIGINT),"
                f" 'failure_rate', {rate},"
                f" 'column_name', {meta_sql(ch, 'column_name')},"
                f" 'rule', {meta_sql(ch, 'rule')},"
                f" 'key_columns', {meta_sql(ch, 'key_columns')},"
                f" 'sql_condition', {meta_sql(ch, 'sql_condition')},"
                f" 'min_value', {meta_sql(ch, 'min_value')},"
                f" 'max_value', {meta_sql(ch, 'max_value')},"
                f" 'severity', {meta_sql(ch, 'severity')})"
            )

        structs = [
            result_struct_sql(
                ch, "CAST(0 AS BIGINT)" if ch.skipped else f"__c{i}"
            )
            for i, ch in enumerate(checks)
        ]
        parts: list[DataFrame] = []
        if structs:
            parts.append(
                base.selectExpr(
                    f"explode(array({', '.join(structs)})) AS r"
                ).select("r.*")
            )

        # ---- uniqueness: one shuffle per key combo, then ONE aggregate
        # over its group counts. failed_records is the number of
        # duplicated key groups (reference: dq_sql_notes.md:117); the
        # group counts sum to the row count (NULL keys form groups too),
        # so the total needs no second scan of the table.
        for u in uniq:
            dup_groups = (
                df.groupBy(*u["keys"])
                .agg(F.count(F.lit(1)).alias("__cnt"))
                .selectExpr(
                    "COUNT(CASE WHEN __cnt > 1 THEN 1 END) AS __dups",
                    "COALESCE(SUM(__cnt), 0) AS __total",
                )
            )
            uch = _Check(
                None,
                test_name=u["test_name"],
                test_category="uniqueness",
                key_columns=u["key_columns"],
                severity=u["severity"],
            )
            parts.append(
                dup_groups.selectExpr(result_struct_sql(uch, "__dups") + " AS r")
                .select("r.*")
            )

        if not parts:  # config declares no checks: empty, stable schema
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


# ---------------------------------------------------------------------------
# DuckDB-oracle twin: compile the SAME config to one ANSI SQL statement,
# so Spark results and oracle results stay in lockstep by construction.
# ---------------------------------------------------------------------------

def _sql_quote(v: Any) -> str:
    if v is None:
        return "CAST(NULL AS VARCHAR)"
    return "'" + str(v).replace("'", "''") + "'"


def compile_oracle_sql(config: dict[str, Any]) -> str:
    """ANSI-SQL twin of ``DQEngine.run`` for the DuckDB oracle."""
    table = config["table_name"].split(".")[-1]
    dtypes = TABLE_DTYPES[table]
    tests = config.get("tests", {})
    critical = set(
        config.get("quality_thresholds", {}).get("critical_columns", [])
    )
    fecha = config.get("fecha")
    date_column = config.get("date_column")
    where = (
        f"WHERE CAST({date_column} AS DATE) = DATE '{fecha}'"
        if fecha and date_column
        else ""
    )
    test_date = fecha if fecha else "ALL"

    def viol_sql_completeness(col: str) -> str:
        kind = _string_kind(dtypes.get(col, "other"))
        if kind == "string":
            return f"({col} IS NULL OR {col} = '')"
        if kind == "float":
            return f"({col} IS NULL OR isnan({col}))"
        return f"({col} IS NULL)"

    rows: list[str] = []

    def add_row(
        name: str,
        category: str,
        viol: str | None,
        *,
        column_name: str | None = None,
        rule: str | None = None,
        key_columns: str | None = None,
        sql_condition: str | None = None,
        min_value: float | None = None,
        max_value: float | None = None,
        severity: str = "WARNING",
        skipped: bool = False,
    ) -> None:
        failed = (
            "CAST(0 AS BIGINT)"
            if skipped
            else f"(SELECT COUNT(*) FROM {table} {where} "
            + (f"{'AND' if where else 'WHERE'} {viol})" if viol else ")")
        )
        status = (
            "'SKIPPED'"
            if skipped
            else "CASE WHEN failed_records = 0 THEN 'PASS' ELSE 'FAIL' END"
        )
        mn = "CAST(NULL AS DOUBLE)" if min_value is None else f"CAST({min_value} AS DOUBLE)"
        mx = "CAST(NULL AS DOUBLE)" if max_value is None else f"CAST({max_value} AS DOUBLE)"
        rows.append(
            f"SELECT {_sql_quote(test_date)} AS test_date, {_sql_quote(name)} AS test_name, "
            f"{_sql_quote(category)} AS test_category, {status} AS status, "
            f"failed_records, total_records, "
            f"CASE WHEN {'TRUE' if skipped else 'total_records > 0'} AND NOT {str(skipped).upper()} "
            f"THEN CAST(failed_records AS DOUBLE) / total_records ELSE 0.0 END AS failure_rate, "
            f"{_sql_quote(column_name)} AS column_name, {_sql_quote(rule)} AS rule, "
            f"{_sql_quote(key_columns)} AS key_columns, {_sql_quote(sql_condition)} AS sql_condition, "
            f"{mn} AS min_value, {mx} AS max_value, {_sql_quote(severity)} AS severity "
            f"FROM (SELECT {failed} AS failed_records, "
            f"(SELECT COUNT(*) FROM {table} {where}) AS total_records)"
        )

    def sev(cols: list[str]) -> str:
        return "ERROR" if any(c in critical for c in cols) else "WARNING"

    for col in tests.get("completeness", []):
        add_row(
            f"completeness_{col}", "completeness", viol_sql_completeness(col),
            column_name=col, severity=sev([col]),
        )
    for col, rule in tests.get("format", {}).items():
        if rule in FORMAT_REGEX_RULES:
            viol = (
                f"NOT regexp_matches(CAST({col} AS VARCHAR),"
                f" '{FORMAT_REGEX_RULES[rule]}')"
            )
        elif rule == "positive":
            viol = f"{col} <= 0"
        elif rule == "not_empty":
            viol = f"({col} IS NULL OR {col} = '')"
        else:
            add_row(
                f"format_{col}_{rule}", "format", None, column_name=col,
                rule=rule, severity=sev([col]), skipped=True,
            )
            continue
        add_row(
            f"format_{col}_{rule}", "format", viol, column_name=col,
            rule=rule, severity=sev([col]),
        )
    for col, bounds in tests.get("range", {}).items():
        ok = [f"{col} IS NOT NULL"]
        if bounds.get("min") is not None:
            ok.append(f"{col} >= {float(bounds['min'])}")
        if bounds.get("max") is not None:
            ok.append(f"{col} <= {float(bounds['max'])}")
        add_row(
            f"range_{col}", "range", f"NOT ({' AND '.join(ok)})",
            column_name=col,
            min_value=float(bounds["min"]) if bounds.get("min") is not None else None,
            max_value=float(bounds["max"]) if bounds.get("max") is not None else None,
            severity=sev([col]),
        )
    for custom in tests.get("custom_sql", []):
        cond = custom.get("sql_condition", custom.get("sql", ""))
        add_row(
            f"custom_{custom['test_name']}", "custom", f"NOT ({cond})",
            sql_condition=cond, severity=custom.get("severity", "ERROR"),
        )
    for combo in tests.get("uniqueness", []):
        keys = ", ".join(combo)
        sub = (
            f"(SELECT COUNT(*) FROM (SELECT {keys} FROM {table} {where} "
            f"GROUP BY {keys} HAVING COUNT(*) > 1))"
        )
        name = "uniqueness_" + "_".join(combo)
        rows.append(
            f"SELECT {_sql_quote(test_date)} AS test_date, {_sql_quote(name)} AS test_name, "
            f"'uniqueness' AS test_category, "
            f"CASE WHEN failed_records = 0 THEN 'PASS' ELSE 'FAIL' END AS status, "
            f"failed_records, total_records, "
            f"CASE WHEN total_records > 0 THEN CAST(failed_records AS DOUBLE) / total_records "
            f"ELSE 0.0 END AS failure_rate, "
            f"CAST(NULL AS VARCHAR) AS column_name, CAST(NULL AS VARCHAR) AS rule, "
            f"{_sql_quote(','.join(combo))} AS key_columns, CAST(NULL AS VARCHAR) AS sql_condition, "
            f"CAST(NULL AS DOUBLE) AS min_value, CAST(NULL AS DOUBLE) AS max_value, "
            f"{_sql_quote(sev(list(combo)))} AS severity "
            f"FROM (SELECT CAST({sub} AS BIGINT) AS failed_records, "
            f"(SELECT COUNT(*) FROM {table} {where}) AS total_records)"
        )
    if not rows:  # no checks configured: empty set, stable columns
        sql_types = {"string": "VARCHAR", "bigint": "BIGINT", "double": "DOUBLE"}
        cols = ", ".join(
            f"CAST(NULL AS {sql_types[t]}) AS {n}" for n, t in RESULT_FIELDS
        )
        return f"SELECT {cols} WHERE 1 = 0"
    return "\nUNION ALL\n".join(rows)


# ---------------------------------------------------------------------------
# Demo DQ job configs over the driver tables (the reference's two YAML
# examples mapped onto customer/events — FIXTURES.md §B).
# ---------------------------------------------------------------------------

CUSTOMER_DQ_CONFIG: dict[str, Any] = {
    "table_name": "customer",
    "tests": {
        "completeness": ["c_name", "c_acctbal", "c_mktsegment"],
        "uniqueness": [["c_custkey"], ["c_name"]],
        "format": {
            "c_name": "not_empty",
            "c_mktsegment": "length_3",  # fails by design: segments are words
            "c_acctbal": "positive",
        },
        "range": {"c_acctbal": {"min": 0.0, "max": 10000.0}},
        "custom_sql": [
            {
                "test_name": "valid_mktsegment",
                "sql_condition": (
                    "c_mktsegment IN ('AUTOMOBILE','HOUSEHOLD','BUILDING',"
                    "'FURNITURE','MACHINERY')"
                ),
                "severity": "ERROR",
            },
            {
                "test_name": "acctbal_above_floor",
                "sql_condition": "c_acctbal > -1000.0",
                "severity": "WARNING",
            },
        ],
    },
    "quality_thresholds": {
        "completeness_threshold": 95.0,
        "max_failure_rate": 5.0,
        "critical_columns": ["c_custkey", "c_acctbal"],
    },
    # example_templates.yaml:6-8 routing; synthetic recipients
    "notifications": {
        "on_failure": ["dq-oncall@corp.example"],
        "on_warning": ["data-team@corp.example"],
    },
}

EVENTS_DQ_CONFIG: dict[str, Any] = {
    "table_name": "events",
    "fecha": "2024-01-15",
    "date_column": "ts",
    "tests": {
        "completeness": ["user_id", "value", "props", "event_type"],
        # note: no timestamp in uniqueness keys — Spark reads events.ts at
        # microsecond precision, DuckDB at nanosecond; grouping on it could
        # legitimately differ between engines
        "uniqueness": [["event_id"], ["user_id", "event_type"]],
        "format": {"event_type": "not_empty", "value": "positive"},
        "range": {"value": {"min": 0.0, "max": 10000.0}},
        "custom_sql": [
            {
                "test_name": "known_event_types",
                "sql_condition": (
                    "event_type IN ('signup','click','purchase','error','view')"
                ),
                "severity": "ERROR",
            }
        ],
    },
    "quality_thresholds": {"critical_columns": ["event_id", "user_id"]},
    "notifications": {"on_failure": ["dq-oncall@corp.example"]},
}


def run_sql_tests(
    spark: SparkSession,
    sql_tests: list[dict[str, Any]],
    sf_dir: str,
    table_name: str | None = None,
    fecha: str | None = None,
) -> DataFrame:
    """Expected-result SQL tests — the reference's inline-SQL test type
    (``tests/dq_sql_notes.md:13-47``): each test is a full SELECT
    returning one count, with ``{table_name}`` / ``{fecha}``
    placeholders, an ``expected_result``, and a ``severity``. The SQL
    is screened by the keyword scanner before execution.

    The reference runs each test as its own warehouse query; here all
    tests compile into ONE lazy plan (each test's count becomes a
    single-row branch, unioned), so N tests execute as one Spark job
    with N parallel sub-plans instead of N serialized actions — the
    same single-pass rewrite the check compiler applies (SURVEY.md §4).
    """
    from functools import reduce

    from ..security import scan_sql
    from ..sources import register_all

    register_all(spark, sf_dir)
    branches = []
    for t in sql_tests:
        sql = scan_sql(t["sql"]).format(
            table_name=table_name or "", fecha=fecha or ""
        )
        count_df = spark.sql(sql)
        actual = F.col(count_df.columns[0]).cast("long")
        expected = int(t.get("expected_result", 0))
        branches.append(
            count_df.select(
                F.lit(t["test_name"]).alias("test_name"),
                F.lit(t.get("description", "")).alias("description"),
                actual.alias("actual"),
                F.lit(expected).cast("long").alias("expected_result"),
                F.when(actual == expected, "PASS")
                .otherwise("FAIL")
                .alias("status"),
                F.lit(t.get("severity", "ERROR")).alias("severity"),
            )
        )
    schema = T.StructType(
        [
            T.StructField("test_name", T.StringType()),
            T.StructField("description", T.StringType()),
            T.StructField("actual", T.LongType()),
            T.StructField("expected_result", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("severity", T.StringType()),
        ]
    )
    if not branches:
        return spark.createDataFrame([], schema)
    return reduce(DataFrame.unionAll, branches)


#: the reference's two inline-SQL shapes (NOT EXISTS referential check,
#: LEFT JOIN tolerance check) mapped onto the driver tables. The
#: tolerance test expects 0 and fails by construction — the negative
#: path the reference's severity routing exists for.
SQL_EXPECTATION_TESTS: list[dict[str, Any]] = [
    {
        "test_name": "valid_part_reference",
        "description": "every lineitem references an existing part",
        "sql": """
            SELECT COUNT(*) AS failed_records
            FROM lineitem
            WHERE l_partkey IS NOT NULL
              AND NOT EXISTS (
                  SELECT 1 FROM part p WHERE p.p_partkey = l_partkey
              )
        """,
        "expected_result": 0,
        "severity": "ERROR",
    },
    {
        "test_name": "consistent_unit_prices",
        "description": "unit price within 50% of part list price",
        "sql": """
            SELECT COUNT(*) AS failed_records
            FROM lineitem t
            LEFT JOIN part r ON t.l_partkey = r.p_partkey
            WHERE t.l_quantity <= 0
               OR ABS(t.l_extendedprice / NULLIF(t.l_quantity, 0)
                      - r.p_retailprice)
                    > 0.5 * r.p_retailprice
        """,
        "expected_result": 0,
        "severity": "WARNING",
    },
]


def dq_sql_expectation_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql_tests(spark, SQL_EXPECTATION_TESTS, sf_dir)


def _oracle_sql_expectations() -> str:
    parts = []
    for t in SQL_EXPECTATION_TESTS:
        sub = t["sql"].strip()
        parts.append(
            f"SELECT {_sql_quote(t['test_name'])} AS test_name, "
            f"{_sql_quote(t.get('description', ''))} AS description, "
            f"CAST(({sub}) AS BIGINT) AS actual, "
            f"CAST({int(t.get('expected_result', 0))} AS BIGINT) AS expected_result, "
            f"CASE WHEN ({sub}) = {int(t.get('expected_result', 0))} "
            f"THEN 'PASS' ELSE 'FAIL' END AS status, "
            f"{_sql_quote(t.get('severity', 'ERROR'))} AS severity"
        )
    return "\nUNION ALL\n".join(parts)


def apply_thresholds(results: DataFrame, config: dict[str, Any]) -> DataFrame:
    """Threshold verdicts over the results table — reference A6
    (``example_templates.yaml:51-54``: ``completeness_threshold``,
    ``max_failure_rate``). A failing check whose failure rate stays
    within ``max_failure_rate`` percent downgrades to WARN; a
    completeness check under ``completeness_threshold`` percent
    coverage is always FAIL regardless of tolerance. Post-processing
    over the results DataFrame — the check pass itself stays
    single-scan.
    """
    th = config.get("quality_thresholds", {})
    max_rate = float(th.get("max_failure_rate", 0.0)) / 100.0
    comp_min = float(th.get("completeness_threshold", 100.0)) / 100.0
    return results.withColumn(
        "verdict",
        F.when(F.col("status") == "SKIPPED", "SKIPPED")
        .when(F.col("failed_records") == 0, "PASS")
        .when(
            (F.col("test_category") == "completeness")
            & (1.0 - F.col("failure_rate") < F.lit(comp_min)),
            "FAIL",
        )
        .when(F.col("failure_rate") <= F.lit(max_rate), "WARN")
        .otherwise("FAIL"),
    )


def route_notifications(
    results_rows: list, config: dict[str, Any]
) -> list[dict[str, Any]]:
    """Compile verdicts into notification payloads — the reference's
    ``notifications.on_failure`` / ``on_warning`` routing
    (``example_templates.yaml:6-8``). Pure function: returns payload
    dicts; the delivery transport (email/SMTP there) stays a seam.
    """
    notif = config.get("notifications", {})
    out: list[dict[str, Any]] = []
    fails = [r for r in results_rows if r["verdict"] == "FAIL"]
    warns = [r for r in results_rows if r["verdict"] == "WARN"]
    table = config.get("table_name", "?")
    if fails and notif.get("on_failure"):
        out.append(
            {
                "recipients": list(notif["on_failure"]),
                "level": "failure",
                "table": table,
                "tests": sorted(r["test_name"] for r in fails),
            }
        )
    if warns and notif.get("on_warning"):
        out.append(
            {
                "recipients": list(notif["on_warning"]),
                "level": "warning",
                "table": table,
                "tests": sorted(r["test_name"] for r in warns),
            }
        )
    return out


class Sender(Protocol):
    """Delivery transport for notification payloads.

    The reference routes to email recipients
    (``example_templates.yaml:6-8``); SMTP is environment-bound, so the
    transport is a one-method protocol: production plugs an SMTP/chat
    sender, the sandbox uses :class:`LogSender` / :class:`FileSender`.
    """

    def send(self, payload: dict[str, Any]) -> None: ...


class LogSender:
    """Deliver via stdlib logging (WARNING for failures, INFO else)."""

    def __init__(self, logger: Any | None = None):
        import logging

        self.log = logger or logging.getLogger("gcp_dbt_data_engineering_spark.dq")
        self.sent: list[dict[str, Any]] = []

    def send(self, payload: dict[str, Any]) -> None:
        import json

        level = (
            self.log.warning
            if payload.get("level") == "failure"
            else self.log.info
        )
        level("dq-notification %s", json.dumps(payload, sort_keys=True))
        self.sent.append(payload)


class FileSender:
    """Append payloads to a JSONL audit file (the durable sandbox sink)."""

    def __init__(self, path: str):
        self.path = path

    def send(self, payload: dict[str, Any]) -> None:
        import json

        with open(self.path, "a") as f:
            f.write(json.dumps(payload, sort_keys=True) + "\n")


class SmtpSender:
    """Email delivery — the transport the reference actually configures
    (``example_templates.yaml:6-8`` routes ``on_failure``/``on_warning``
    to recipient lists).

    Each payload becomes a real RFC-5322 message (stdlib
    ``EmailMessage``): recipients from the payload's routed list,
    severity-prefixed subject, a human-readable summary plus the full
    JSON payload as body. Delivery goes through a pluggable
    ``transport(from_addr, to_addrs, message_bytes)`` — by default a
    one-shot ``smtplib.SMTP`` session (host/port from the
    constructor); tests and sandboxes inject a capturing transport, so
    the message CONSTRUCTION (the part that can silently rot) is fully
    exercised without a network.
    """

    def __init__(
        self,
        from_addr: str = "dq-engine@localhost",
        host: str = "localhost",
        port: int = 25,
        transport: Any | None = None,
    ):
        self.from_addr = from_addr
        self.host = host
        self.port = port
        self.transport = transport or self._smtp_transport
        self.sent: list[Any] = []

    def _smtp_transport(
        self, from_addr: str, to_addrs: list[str], message: bytes
    ) -> None:  # pragma: no cover - needs a live SMTP host
        import smtplib

        with smtplib.SMTP(self.host, self.port) as s:
            s.sendmail(from_addr, to_addrs, message)

    def build_message(self, payload: dict[str, Any]):
        import json
        from email.message import EmailMessage

        msg = EmailMessage()
        level = payload.get("level", "notice")
        tests = payload.get("tests", [])
        msg["From"] = self.from_addr
        msg["To"] = ", ".join(payload.get("recipients", []))
        msg["Subject"] = (
            f"[DQ {level.upper()}] {payload.get('table', '?')}: "
            f"{len(tests)} test(s) {level}"
        )
        body = [
            f"Data-quality {level} for table {payload.get('table', '?')}",
            "",
            "Tests: " + ", ".join(tests),
            "",
            "Full payload:",
            json.dumps(payload, sort_keys=True, indent=1),
        ]
        msg.set_content("\n".join(body))
        return msg

    def send(self, payload: dict[str, Any]) -> None:
        recipients = payload.get("recipients", [])
        if not recipients:
            return  # nothing routed: the reference sends nothing too
        msg = self.build_message(payload)
        self.transport(self.from_addr, list(recipients), bytes(msg))
        self.sent.append(msg)


def deliver_notifications(
    results_rows: list, config: dict[str, Any], sender: Sender
) -> list[dict[str, Any]]:
    """Route verdicts (:func:`route_notifications`) and push each
    payload through ``sender`` — the end-to-end ``on_failure`` /
    ``on_warning`` path the reference configures. Returns the payloads
    actually sent."""
    payloads = route_notifications(results_rows, config)
    for p in payloads:
        sender.send(p)
    return payloads


def load_job_config(path: str) -> dict[str, Any]:
    """Load a YAML (or JSON) DQ job config — reference S8
    (``tests/orchestrate.md:221-242``: GCS blob → yaml.safe_load →
    JSON job arg). Local file replaces the GCS blob; the engine
    consumes the same dict either way, pre-screened by the security
    validator at run time.
    """
    import json

    import yaml

    with open(path) as f:
        text = f.read()
    try:
        return yaml.safe_load(text)
    except yaml.YAMLError:
        return json.loads(text)


ORDERS_YAML_PATH = os.path.join(REPO_ROOT, "configs", "dq_orders_daily.yaml")


def dq_yaml_orders_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference E2 flow: YAML template → validate → engine."""
    return DQEngine(spark).run(load_job_config(ORDERS_YAML_PATH), sf_dir=sf_dir)


def dq_customer_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DQEngine(spark).run(CUSTOMER_DQ_CONFIG, sf_dir=sf_dir)


def dq_events_daily_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DQEngine(spark).run(EVENTS_DQ_CONFIG, sf_dir=sf_dir)


# ---------------------------------------------------------------------------
# DQ monitoring: trailing z-score anomaly detection over a daily metric
# (the reference's threshold checks are static per-run; a monitoring
# deployment also needs "is today abnormal vs the trailing window").
# ---------------------------------------------------------------------------

ANOM_WINDOW = 7  # trailing days, inclusive of the current day
ANOM_Z = 2.0


def dq_daily_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event volume with trailing-window z-score + anomaly flag.

    Mean/stddev from exact integer component sums (n, Σx, Σx²) over a
    ROWS frame — never the engine's streaming variance, whose partial
    merge order is nondeterministic (plans/stats.py moments idiom).
    One shuffle (day rollup), one ordered window.

    Scale posture: the window runs over one row PER DAY — thousands of
    rows regardless of corpus size; the heavy lifting is the daily
    rollup, a plain keyed aggregate. Σx² over BIGINT day-counts bounds
    at ~9e18/(7·day_count²): safe below ~1.1e9 events/day; above that,
    switch the component sums to DECIMAL.
    """
    # timeless rows (NULL ts) have no day on the sequential axis
    ev = load_table(spark, sf_dir, "events").where("ts IS NOT NULL")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = (
        f"(PARTITION BY 1 ORDER BY d"
        f" ROWS BETWEEN {ANOM_WINDOW - 1} PRECEDING AND CURRENT ROW)"
    )
    scored = daily.selectExpr(
        "CAST(d AS STRING) AS day",
        "x AS n_events",
        f"COUNT(*) OVER {w} AS wn",
        f"SUM(x) OVER {w} AS wsum",
        f"SUM(x * x) OVER {w} AS wsumsq",
    ).selectExpr(
        "day",
        "n_events",
        "CAST(wsum AS DOUBLE) / CAST(wn AS DOUBLE) AS w_mean",
        "CASE WHEN wn > 1 THEN sqrt(greatest("
        " (CAST(wsumsq AS DOUBLE) - CAST(wsum AS DOUBLE)"
        "  * CAST(wsum AS DOUBLE) / CAST(wn AS DOUBLE))"
        " / CAST(wn - 1 AS DOUBLE), 0.0)) ELSE 0.0 END AS w_std",
    ).selectExpr(
        "day",
        "n_events",
        "w_mean",
        "w_std",
        "CASE WHEN w_std > 0.0 THEN"
        " (CAST(n_events AS DOUBLE) - w_mean) / w_std"
        " ELSE 0.0 END AS z",
        f"(w_std > 0.0 AND abs((CAST(n_events AS DOUBLE) - w_mean)"
        f" / w_std) > {ANOM_Z}) AS is_anomaly",
    )
    return scored


ORACLE_DAILY_ANOMALY = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
win AS (
  SELECT CAST(d AS VARCHAR) AS day, x AS n_events,
         COUNT(*) OVER w AS wn,
         CAST(SUM(x) OVER w AS BIGINT) AS wsum,
         CAST(SUM(x * x) OVER w AS BIGINT) AS wsumsq
  FROM daily
  WINDOW w AS (ORDER BY d
               ROWS BETWEEN {ANOM_WINDOW - 1} PRECEDING AND CURRENT ROW)),
scored AS (
  SELECT day, n_events,
         CAST(wsum AS DOUBLE) / CAST(wn AS DOUBLE) AS w_mean,
         CASE WHEN wn > 1 THEN sqrt(greatest(
           (CAST(wsumsq AS DOUBLE) - CAST(wsum AS DOUBLE)
            * CAST(wsum AS DOUBLE) / CAST(wn AS DOUBLE))
           / CAST(wn - 1 AS DOUBLE), 0.0)) ELSE 0.0 END AS w_std
  FROM win)
SELECT day, n_events, w_mean, w_std,
       CASE WHEN w_std > 0.0 THEN
         (CAST(n_events AS DOUBLE) - w_mean) / w_std
       ELSE 0.0 END AS z,
       (w_std > 0.0 AND abs((CAST(n_events AS DOUBLE) - w_mean)
        / w_std) > {ANOM_Z}) AS is_anomaly
FROM scored
"""


#: Iglewicz-Hoaglin modified-z constants, inlined identically in both
#: engines (0.6745 ~ 1/Phi^-1(3/4); 3.5 the published cutoff)
_MAD_K = "6.74489750196081749e-01"
_MAD_CUTOFF = 3.5


def dq_daily_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly flags via median/MAD (modified z).

    The median-based sibling of ``dq_daily_anomaly_events``'s trailing
    z-score: volume spikes can't drag the baseline (breakdown point
    0.5 vs 0 for mean/stddev), which is why monitoring systems pair
    both. Median and MAD are EXACT interpolated order statistics
    (row_number + explicit linear interpolation — the repo's quantile
    idiom), so every float is a deterministic function of integer
    day-counts and both engines agree bit-for-bit; no libm anywhere.

    Scale posture: the order statistics run over the per-DAY aggregate
    (bounded cardinality: one row per day), not the events — the
    single-partition windows here hold at any corpus size because the
    day count grows with calendar time, not data volume.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").cast("string").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))

    def interp_median(df: DataFrame, col: str) -> DataFrame:
        """Single-row DataFrame holding the exact interpolated median."""
        w = Window.orderBy(F.col(col), F.col("day"))
        ranked = df.select(
            F.col(col).cast("double").alias("v"),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(
                Window.partitionBy(F.lit(1))
            ).alias("cnt"),
        )
        h = (F.col("cnt") - 1).cast("double") * F.lit(0.5)
        lo = F.floor(h) + 1
        hi = F.least(lo + 1, F.col("cnt"))
        frac = h - F.floor(h)
        return ranked.filter(
            (F.col("rn") == lo) | (F.col("rn") == hi)
        ).agg(
            (
                F.max(F.when(F.col("rn") == lo, F.col("v")))
                + F.max(F.when(F.col("rn") == lo, frac))
                * (
                    F.max(F.when(F.col("rn") == hi, F.col("v")))
                    - F.max(F.when(F.col("rn") == lo, F.col("v")))
                )
            ).alias("med")
        )

    med = interp_median(daily, "n")
    devs = daily.join(F.broadcast(med)).select(
        "day", F.abs(F.col("n").cast("double") - F.col("med")).alias("n")
    )
    mad = interp_median(devs, "n").selectExpr("med AS mad")
    return (
        daily.join(F.broadcast(med))
        .join(F.broadcast(mad))
        .selectExpr(
            "day",
            "n",
            "med AS median_n",
            "mad AS mad_n",
            f"CASE WHEN mad > 0 THEN {_MAD_K} *"
            " (CAST(n AS DOUBLE) - med) / mad END AS modified_z",
        )
        .selectExpr(
            "day",
            "n",
            "median_n",
            "mad_n",
            "modified_z",
            f"COALESCE(abs(modified_z) > {_MAD_CUTOFF}, FALSE)"
            " AS is_anomaly",
        )
    )


def _oracle_mad() -> str:
    def med_cte(src: str, val: str, name: str) -> str:
        return f"""{name}_r AS (
  SELECT CAST({val} AS DOUBLE) AS v,
         ROW_NUMBER() OVER (ORDER BY {val}, day) AS rn,
         COUNT(*) OVER () AS cnt
  FROM {src}),
{name} AS (
  SELECT MAX(CASE WHEN rn = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.5) + 1
             THEN v END)
         + MAX(CASE WHEN rn = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.5) + 1
               THEN CAST(cnt - 1 AS DOUBLE) * 0.5
                    - FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.5) END)
         * (MAX(CASE WHEN rn = LEAST(FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.5)
                                     + 2, cnt) THEN v END)
            - MAX(CASE WHEN rn = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.5) + 1
                  THEN v END)) AS med
  FROM {name}_r
  WHERE rn = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.5) + 1
     OR rn = LEAST(FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.5) + 2, cnt))"""

    return f"""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, COUNT(*) AS n
  FROM events GROUP BY 1),
{med_cte('daily', 'n', 'm1')},
devs AS (
  SELECT day, abs(CAST(n AS DOUBLE) - med) AS n FROM daily, m1),
{med_cte('devs', 'n', 'm2')}
SELECT day, n, m1.med AS median_n, m2.med AS mad_n,
       CASE WHEN m2.med > 0 THEN {_MAD_K} * (CAST(n AS DOUBLE) - m1.med)
            / m2.med END AS modified_z,
       COALESCE(abs(CASE WHEN m2.med > 0 THEN {_MAD_K}
                     * (CAST(n AS DOUBLE) - m1.med) / m2.med END)
                > {_MAD_CUTOFF}, FALSE) AS is_anomaly
FROM daily, m1, m2
"""


ORACLE_MAD = _oracle_mad()


#: every FK edge of the star schema: (name, child, child_key, parent,
#: parent_key). The reference's five check families validate columns in
#: isolation; referential integrity is the cross-table audit a
#: warehouse runs nightly on top of them.
FK_EDGES: tuple[tuple[str, str, str, str, str], ...] = (
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit over every FK edge of the schema, one row per edge.

    Compiled as ONE SQL statement (the DQ engine's own idiom): each
    edge is a single scan of the child left-joined to the parent's
    distinct keys with a conditional orphan count — not the two scans
    the count+anti-join formulation costs — and the seven edges UNION
    ALL inside one text, so Catalyst analyzes one tree once. (The
    previous DataFrame build paid repeated prefix re-analysis through
    7 chained unionByName calls: 0.61 s of plan time at sf0.1.)
    Scale posture: parent distinct-key sides broadcast where small; at
    100 TB the fact-fact edge (lineitem→orders) is a plain shuffle
    join on the key — no collects, no loops, still one action.
    """
    from ..sources import register_all

    tables = tuple(
        sorted({t for _, c, _, p, _ in FK_EDGES for t in (c, p)})
    )
    register_all(spark, sf_dir, tables)
    edges = "\nUNION ALL\n".join(
        f"""SELECT fk, child_rows, orphan_rows, orphan_rows = 0 AS ok
FROM (
  SELECT '{fk_name}' AS fk,
         COUNT(*) AS child_rows,
         COALESCE(SUM(CASE WHEN pa.__p IS NULL THEN 1 ELSE 0 END), 0)
           AS orphan_rows
  FROM (SELECT {ckey} AS __c FROM {child}) ch
  LEFT JOIN (SELECT DISTINCT {pkey} AS __p FROM {parent}) pa
    ON ch.__c = pa.__p
) t"""
        for fk_name, child, ckey, parent, pkey in FK_EDGES
    )
    return spark.sql(edges)


ORACLE_REFERENTIAL = "\nUNION ALL\n".join(
    f"""SELECT '{fk_name}' AS fk,
       (SELECT COUNT(*) FROM {child}) AS child_rows,
       (SELECT COUNT(*) FROM {child}
        WHERE NOT EXISTS (SELECT 1 FROM {parent} WHERE {pkey} = {ckey}))
         AS orphan_rows,
       (SELECT COUNT(*) FROM {child}
        WHERE NOT EXISTS (SELECT 1 FROM {parent} WHERE {pkey} = {ckey}))
         = 0 AS ok"""
    for fk_name, child, ckey, parent, pkey in FK_EDGES
)


# ---------------------------------------------------------------------------
# CUSUM drift detection — sequential change detection over daily volume
# ---------------------------------------------------------------------------

#: CUSUM slack and alarm threshold, in permille of the period mean.
#: Daily counts are Poisson-ish (sigma ~ 40 % of mean at sf0.01), so
#: the textbook k = 0.5*sigma, h = 4-5*sigma lands near 250/2000 pm —
#: a sparse alarm profile (3 alarms / 2399 days at sf0.01) instead of
#: a statistic that wanders over a tiny h on every run of noise.
_CUSUM_K_PM = 250   # k = 25 % of mean (~0.6 sigma)
_CUSUM_H_PM = 2000  # h = 200 % of mean (~5 sigma)


def dq_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detection over daily order volume.

    The sequential sibling of the z-score/MAD point-anomaly specs: a
    run of small same-sign deviations that never trips a per-day
    threshold accumulates in the CUSUM statistic, which is how
    monitoring detects slow drifts. The max(0, S + z - k) recurrence
    is not a window aggregate, but its prefix-sum identity is:
    ``S+_t = U_t - min(0, min_{j<=t} U_j)`` with ``U_t = sum(dev - k)``
    — one running sum and one running min, both plain windows (the
    negative side is the mirror image).

    Exactness: all CUSUM state is INTEGER. Deviations scale by
    1000*N_days (``sdev = 1000*N*n_t - 1000*T`` = 1000*N*(n_t - mean)
    without ever dividing), so k = 25 % of mean is exactly ``250*T`` and
    h = 200 % is ``2000*T``. The only floats are the final display
    normalization — one division per row, same IEEE op both engines.

    Scale posture: the windows run over the per-DAY aggregate (one row
    per calendar day — cardinality grows with time, not data volume),
    the same bounded single-partition discipline as the MAD spec.
    """
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders").where(
        "o_orderdate IS NOT NULL"
    )
    daily = od.groupBy(
        F.col("o_orderdate").cast("date").cast("string").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = F.broadcast(
        daily.agg(
            F.sum("n").alias("__T"), F.count(F.lit(1)).alias("__N")
        )
    )
    scaled = daily.crossJoin(tot).selectExpr(
        "day",
        "n",
        "__T",
        "__N",
        "1000 * __N * n - 1000 * __T AS sdev",
        f"{_CUSUM_K_PM} * __T AS sk",
        f"{_CUSUM_H_PM} * __T AS sh",
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    runs = scaled.select(
        "day",
        "n",
        "__T",
        "__N",
        "sh",
        F.sum(F.col("sdev") - F.col("sk")).over(w).alias("u"),
        F.sum(F.col("sdev") + F.col("sk")).over(w).alias("v"),
    ).select(
        "day",
        "n",
        "__N",
        "sh",
        (F.col("u") - F.least(F.lit(0), F.min("u").over(w))).alias(
            "s_pos"
        ),
        (F.greatest(F.lit(0), F.max("v").over(w)) - F.col("v")).alias(
            "s_neg"
        ),
    )
    return runs.selectExpr(
        "day",
        "n",
        "CAST(s_pos AS DOUBLE) / CAST(1000 * __N AS DOUBLE) AS cusum_pos",
        "CAST(s_neg AS DOUBLE) / CAST(1000 * __N AS DOUBLE) AS cusum_neg",
        "s_pos > sh AS alarm_pos",
        "s_neg > sh AS alarm_neg",
    )


ORACLE_CUSUM = f"""
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
         COUNT(*) AS n
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
tot AS (SELECT SUM(n) AS t, COUNT(*) AS nd FROM daily),
scaled AS (
  SELECT day, n, t, nd,
         1000 * nd * n - 1000 * t AS sdev,
         {_CUSUM_K_PM} * t AS sk,
         {_CUSUM_H_PM} * t AS sh
  FROM daily, tot),
runs AS (
  SELECT day, n, nd, sh,
         SUM(sdev - sk) OVER w AS u,
         SUM(sdev + sk) OVER w AS v
  FROM scaled
  WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
cusum AS (
  SELECT day, n, nd, sh,
         u - LEAST(0, MIN(u) OVER w) AS s_pos,
         GREATEST(0, MAX(v) OVER w) - v AS s_neg
  FROM runs
  WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING))
SELECT day, n,
       CAST(s_pos AS DOUBLE) / CAST(1000 * nd AS DOUBLE) AS cusum_pos,
       CAST(s_neg AS DOUBLE) / CAST(1000 * nd AS DOUBLE) AS cusum_neg,
       s_pos > sh AS alarm_pos,
       s_neg > sh AS alarm_neg
FROM cusum
"""


# ---------------------------------------------------------------------------
# Seasonal baseline — day-of-week decomposition anomaly flag
# ---------------------------------------------------------------------------

#: relative deviation from the day-of-week mean that raises the alarm,
#: as an exact rational (num, den): |n - mean| > (num/den) * mean
_SEASONAL_DEV = (1, 20)


def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of daily event volume: each
    day is compared to ITS weekday's mean, not a trailing window — the
    detector that doesn't page on every Saturday dip. A day alarms
    when it deviates more than {num}/{den} from its weekday baseline.

    Exactness: weekday index is pure integer date arithmetic (days
    since a known Monday, mod 7 — never the engines' dayofweek(),
    whose 0-vs-1 base and week start differ); the residual is the
    exact integer cross-product ``n·cnt_d − sum_d`` and the alarm
    comparison is integer (2·den·|r| > 2·num·sum_d form), so the flag
    is bit-portable. The two reported doubles are single divisions of
    exact integers.

    Scale posture: the heavy step is the daily rollup (plain keyed
    aggregate, map-side partials); the weekday window runs over one
    row per DAY — thousands of rows at any corpus size.
    """
    num, den = _SEASONAL_DEV
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = "(PARTITION BY dow)"
    return (
        daily.selectExpr(
            "d",
            "n",
            # 1970-01-05 was a Monday: dow 0=Mon .. 6=Sun
            # BIGINT like the oracle's: the same values, one type
            "CAST(datediff(d, DATE '1970-01-05') % 7 AS BIGINT) AS dow",
        )
        .selectExpr(
            "CAST(d AS STRING) AS day",
            "dow",
            "n AS n_events",
            f"COUNT(*) OVER {w} AS cnt_d",
            f"SUM(n) OVER {w} AS sum_d",
        )
        .selectExpr(
            "day",
            "dow",
            "n_events",
            "CAST(sum_d AS DOUBLE) / CAST(cnt_d AS DOUBLE) AS dow_mean",
            "CAST(n_events * cnt_d - sum_d AS DOUBLE)"
            " / CAST(sum_d AS DOUBLE) AS rel_dev",
            f"{den} * abs(n_events * cnt_d - sum_d) > {num} * sum_d"
            " AS alarm",
        )
    )


ORACLE_SEASONAL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
  FROM events GROUP BY 1),
dowed AS (
  SELECT d, n,
         date_diff('day', DATE '1970-01-05', d) % 7 AS dow
  FROM daily),
based AS (
  SELECT d, n, dow,
         COUNT(*) OVER (PARTITION BY dow) AS cnt_d,
         SUM(n) OVER (PARTITION BY dow) AS sum_d
  FROM dowed)
SELECT CAST(d AS VARCHAR) AS day,
       CAST(dow AS BIGINT) AS dow,
       n AS n_events,
       CAST(sum_d AS DOUBLE) / CAST(cnt_d AS DOUBLE) AS dow_mean,
       CAST(n * cnt_d - sum_d AS DOUBLE) / CAST(sum_d AS DOUBLE)
         AS rel_dev,
       {_SEASONAL_DEV[1]} * abs(n * cnt_d - sum_d)
         > {_SEASONAL_DEV[0]} * sum_d AS alarm
FROM based
"""


# ---------------------------------------------------------------------------
# EWMA burst detection — exact dyadic smoothing kernel
# ---------------------------------------------------------------------------

#: truncated EWMA kernel length (alpha = 1/2: weight 2^-(k+1) on lag k)
_EWMA_K = 16
#: burst alarm when today's volume exceeds BURST_X x yesterday's EWMA
_EWMA_BURST_X = 2


def events_ewma_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha=1/2) of daily event volume + burst alarm — the
    smoothing every volume monitor runs before thresholding, bit-exact
    across engines because the dyadic kernel is kept in INTEGERS:
    ewma·2^K = Σ lag_k(n)·2^(K-1-k) (truncated at K lags; days with
    shorter history use the available prefix — same in both engines),
    so the smoothed value is an exact BIGINT dot product and the burst
    comparison n > {X}·ewma_prev is the integer cross-product
    n·2^K > {X}·ewma_prev_scaled. The only double is the final display
    division by 2^K (exact power-of-two scaling).

    Scale posture: the kernel runs over one row per DAY (bounded
    relation, same discipline as CUSUM/seasonal); the heavy step is
    the daily rollup.
    """
    ev = load_table(spark, sf_dir, "events").where("ts IS NOT NULL")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = "(ORDER BY d)"
    scaled = " + ".join(
        f"COALESCE(LAG(n, {k}) OVER {w}, 0)"
        f" * CAST({1 << (_EWMA_K - 1 - k)} AS BIGINT)"
        for k in range(_EWMA_K)
    )
    # windows over one-row-per-day relations: bounded by the calendar,
    # the documented exception to the no-unpartitioned-window rule
    return (
        daily.selectExpr("d", "n", f"{scaled} AS ewma_scaled")
        .selectExpr(
            "d", "n", "ewma_scaled",
            f"LAG(ewma_scaled) OVER {w} AS prev_scaled",
        )
        .selectExpr(
            "CAST(d AS STRING) AS day",
            "n AS n_events",
            f"CAST(ewma_scaled AS DOUBLE) / {float(1 << _EWMA_K)!r}"
            " AS ewma",
            "prev_scaled IS NOT NULL AND"
            f" n * CAST({1 << _EWMA_K} AS BIGINT)"
            f" > {_EWMA_BURST_X} * prev_scaled AS burst",
        )
    )


def _oracle_ewma() -> str:
    w = "(ORDER BY d)"
    scaled = " + ".join(
        f"COALESCE(LAG(n, {k}) OVER {w}, 0)"
        f" * CAST({1 << (_EWMA_K - 1 - k)} AS BIGINT)"
        for k in range(_EWMA_K)
    )
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
smoothed AS (
  SELECT d, n, {scaled} AS ewma_scaled
  FROM daily),
lagged AS (
  SELECT d, n, ewma_scaled,
         LAG(ewma_scaled) OVER {w} AS prev_scaled
  FROM smoothed)
SELECT CAST(d AS VARCHAR) AS day,
       n AS n_events,
       CAST(ewma_scaled AS DOUBLE) / {float(1 << _EWMA_K)!r} AS ewma,
       prev_scaled IS NOT NULL AND
         n * CAST({1 << _EWMA_K} AS BIGINT)
           > {_EWMA_BURST_X} * prev_scaled AS burst
FROM lagged
"""


ORACLE_EWMA = _oracle_ewma()


# ---------------------------------------------------------------------------
# PSI drift — population stability index between two epochs
# ---------------------------------------------------------------------------

#: epoch boundary and fixed bucket width for the PSI audit
_PSI_EPOCH = "1998-01-01"
_PSI_BUCKET_W = 50_000.0


def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of order value, epoch vs epoch.

    THE production data-drift metric: bucket the metric, compare the
    reference-epoch distribution p to the current-epoch distribution q,
    sum ``(p - q) * ln(p / q)`` (add-one smoothed). PSI < 0.1 stable,
    0.1-0.25 drifting, > 0.25 action. Output: one row per bucket with
    its PSI term, so the alarm (the sum) AND the blame (which buckets
    moved) are both visible.

    Exactness: buckets are ``floor(price / W)`` (one IEEE divide +
    floor, identical both engines); counts are exact ints; the log
    rides ONE ``ln`` over a ratio of exact BIGINT cross-products
    rounded through DECIMAL(28,9) (the LM-scoring recipe), and
    ``p - q`` is the exact integer cross-difference over an exact
    integer denominator — the only per-row float ops are the final
    fixed-order multiply/divide.

    Scale posture: one conditional aggregate per bucket (map-side
    partials, <= ~10 groups), totals as a broadcast 1-row relation —
    scan-bound at any corpus size.
    """
    # undated orders belong to NEITHER epoch: excluded (unfiltered,
    # Spark propagates a NULL is_ref through the counts while a CASE
    # replay silently buckets the row as "current")
    od = load_table(spark, sf_dir, "orders").where(
        "o_orderdate IS NOT NULL"
    )
    marked = od.selectExpr(
        f"CAST(floor(o_totalprice / {_PSI_BUCKET_W!r}) AS BIGINT)"
        " AS bucket",
        f"o_orderdate < TIMESTAMP '{_PSI_EPOCH}' AS is_ref",
    )
    per_bucket = marked.groupBy("bucket").agg(
        F.sum(F.col("is_ref").cast("long")).alias("n_ref"),
        F.sum((~F.col("is_ref")).cast("long")).alias("n_cur"),
    )
    # add-one smoothing: +1 per bucket in each numerator, so the
    # totals gain the ACTUAL bucket count (ADVICE r6: a fixed +10 was
    # only a proper distribution when exactly 10 buckets materialize)
    totals = F.broadcast(
        per_bucket.agg(
            F.sum("n_ref").alias("__tr"),
            F.sum("n_cur").alias("__tc"),
            F.count(F.lit(1)).alias("__nb"),
        )
    )
    return per_bucket.crossJoin(totals).selectExpr(
        "bucket",
        "n_ref",
        "n_cur",
        "CAST("
        "  CAST((n_ref + 1) * (__tc + __nb) AS DECIMAL(38,0))"
        "  - CAST((n_cur + 1) * (__tr + __nb) AS DECIMAL(38,0))"
        "  AS DOUBLE)"
        " / CAST(CAST(__tr + __nb AS DECIMAL(38,0))"
        "        * CAST(__tc + __nb AS DECIMAL(38,0)) AS DOUBLE)"
        " * CAST(CAST(ln("
        "   CAST((n_ref + 1) * (__tc + __nb) AS DOUBLE)"
        " / CAST((n_cur + 1) * (__tr + __nb) AS DOUBLE)"
        ") AS DECIMAL(28,9)) AS DOUBLE) AS psi_term",
    )


ORACLE_PSI = f"""
WITH marked AS (
  SELECT CAST(floor(o_totalprice / {_PSI_BUCKET_W!r}) AS BIGINT)
           AS bucket,
         o_orderdate < TIMESTAMP '{_PSI_EPOCH}' AS is_ref
  FROM orders WHERE o_orderdate IS NOT NULL),
per_bucket AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM marked GROUP BY bucket),
tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc,
               COUNT(*) AS nb FROM per_bucket)
SELECT bucket, n_ref, n_cur,
       CAST(CAST((n_ref + 1) * (tc + nb) AS DECIMAL(38,0))
            - CAST((n_cur + 1) * (tr + nb) AS DECIMAL(38,0))
            AS DOUBLE)
         / CAST(CAST(tr + nb AS DECIMAL(38,0))
                * CAST(tc + nb AS DECIMAL(38,0)) AS DOUBLE)
         * CAST(CAST(ln(
             CAST((n_ref + 1) * (tc + nb) AS DOUBLE)
           / CAST((n_cur + 1) * (tr + nb) AS DOUBLE)
           ) AS DECIMAL(28,9)) AS DOUBLE) AS psi_term
FROM per_bucket, tot
"""


SPECS: dict[str, QuerySpec] = {
    "dq_psi_drift": QuerySpec(
        "dq_psi_drift",
        dq_psi_drift,
        ORACLE_PSI,
        "population stability index per value bucket, epoch vs epoch "
        "(exact-int cross-products, one rounded ln)",
    ),
    "events_ewma_volume": QuerySpec(
        "events_ewma_volume",
        events_ewma_volume,
        ORACLE_EWMA,
        "EWMA burst detector with an exact dyadic kernel (2^-(k+1) "
        "decimal literals; no float accumulation)",
    ),
    "events_seasonal_baseline": QuerySpec(
        "events_seasonal_baseline",
        events_seasonal_baseline,
        ORACLE_SEASONAL,
        "day-of-week seasonal decomposition anomaly flag: integer-"
        "exact residual vs the weekday mean",
    ),
    "dq_cusum_drift": QuerySpec(
        "dq_cusum_drift",
        dq_cusum_drift,
        ORACLE_CUSUM,
        "two-sided integer-exact CUSUM drift detection over daily "
        "volume (prefix-sum + running-min identity)",
    ),
    "dq_daily_anomaly_mad": QuerySpec(
        "dq_daily_anomaly_mad",
        dq_daily_anomaly_mad,
        ORACLE_MAD,
        "median/MAD modified-z daily-volume anomalies (robust sibling)",
    ),
    "dq_referential_integrity": QuerySpec(
        "dq_referential_integrity",
        dq_referential_integrity,
        ORACLE_REFERENTIAL,
        "orphan audit over all 7 FK edges in one lazy plan",
    ),
    "dq_daily_anomaly_events": QuerySpec(
        "dq_daily_anomaly_events",
        dq_daily_anomaly_events,
        ORACLE_DAILY_ANOMALY,
        "trailing z-score anomaly flag over daily event volume",
    ),
    "dq_customer_suite": QuerySpec(
        "dq_customer_suite",
        dq_customer_suite,
        compile_oracle_sql(CUSTOMER_DQ_CONFIG),
        "five DQ families over customer in one agg pass + 2 uniqueness shuffles",
    ),
    "dq_events_daily_slice": QuerySpec(
        "dq_events_daily_slice",
        dq_events_daily_slice,
        compile_oracle_sql(EVENTS_DQ_CONFIG),
        "fecha-sliced DQ job over the events stream table (reference E2 flow)",
    ),
    "dq_yaml_orders_daily": QuerySpec(
        "dq_yaml_orders_daily",
        dq_yaml_orders_daily,
        compile_oracle_sql(load_job_config(ORDERS_YAML_PATH)),
        "YAML job template -> validator -> DQ engine (reference S8+E2)",
    ),
    "dq_sql_expectation_tests": QuerySpec(
        "dq_sql_expectation_tests",
        dq_sql_expectation_tests,
        _oracle_sql_expectations(),
        "inline-SQL expected-result tests (reference dq_sql_notes shape)",
    ),
}
