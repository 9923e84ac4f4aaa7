"""Data profiler — reference E3 (``tests/profiling_example.py``).

The reference calls an (undefined) ``SimpleDataProfiler.
profile_multiple_tables(table_list, fecha)`` honoring config
``sample_size`` / ``include_schema_info`` / ``calculate_histograms``
(``tests/profiling_example.py:14-17,52-57``), stamps ``run_id`` /
``environment`` (``:20-21``) and appends to a results table (``:24-28``).
We design its internals Spark-first:

- the table melts to LONG FORM first — ``explode`` of one struct per
  column per row — and every statistic is then a single narrow
  ``groupBy(table, column)`` aggregation. The plan has ~15 expressions
  regardless of how many tables/columns are profiled (the previous
  wide-agg design carried ~50 expressions per table and spent 10x the
  query's runtime in Catalyst analysis + codegen, re-paid every run);
  at 100 TB the profile costs one scan + one combine-friendly shuffle,
  never one scan per column.
- distinct counts ride the same pass: a single ``countDistinct`` over
  the column's injective string key plans as a two-phase hash
  aggregate over (table, column, value) — the standard distributed
  distinct shape, no Expand of the input.
- string/date min-max run in a second, strings-only long pass:
  an immutable agg buffer (min/max on strings) would downgrade the
  whole shared aggregate to SortAggregate (see BASELINE.md log).
- results stay long format (one row per column) with a stable schema
  so daily profiles append into one history table.
- ``sample_size`` takes the n rows with the SMALLEST md5 over the row
  text (``_hash_sample``): deterministic like ``limit`` but uniform —
  ``limit(n)`` returns the first rows of the first file, a biased
  profile (the reference contract is a *sample*,
  tests/profiling_example.py:54). Plans as TakeOrderedAndProject, so
  each partition ships at most n rows — no full sort, no shuffle of
  the table.
- stddev via the exact-decimal sum-of-squares formula so Spark and
  DuckDB agree bit-for-bit (see plans/spec.py determinism rules;
  builtin ``stddev`` merges partial moments in a partition-order-
  dependent way that can't hash-match across engines).
- histograms (``calculate_histograms``) are equi-width bucket counts
  via ``floor((x-min)/width)`` + groupBy — see ``profile_histogram``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.spec import QuerySpec, sql_dbl2dec
from ..sources import TABLE_DTYPES, load_table, spread

NUMERIC_KINDS = {"float", "int"}


def _hash_sample(df: DataFrame, n: int) -> DataFrame:
    """Deterministic uniform row cap: the n rows whose md5(row text) is
    smallest. Membership is a pure function of the row's values — the
    same rows are sampled on any cluster, partitioning, or engine (the
    same contract as ``plans/stats.py`` orders_hash_sample, shaped as
    a count cap instead of a rate). ``orderBy(hash).limit(n)`` plans
    as TakeOrderedAndProject: per-partition top-n + driver merge, at
    most n rows leave any partition.

    The key is md5 over per-column md5 digests (fixed 32-hex-char
    blocks), not ``concat_ws`` over raw values: ``concat_ws`` skips
    NULLs, so ('x', NULL) and (NULL, 'x') would collide and the
    straddling tie would resolve by partition order. Per-column
    hashing keeps the key an injective function of the row's values
    (NULL encoded as a distinct literal block), so membership really
    is engine- and partitioning-independent.
    """
    key = F.md5(
        F.concat(
            *[
                F.coalesce(F.md5(F.col(c).cast("string")), F.lit("~null~"))
                for c in df.columns
            ]
        )
    )
    return (
        df.withColumn("__sk", key)
        .orderBy(F.col("__sk").asc())
        .limit(int(n))
        .drop("__sk")
    )


def _profile_sql(parts: list[tuple[str, str, dict[str, str]]]) -> str:
    """One SQL statement for the whole multi-table profile.

    Every table melts to one row per (source row, profiled column):
    ``dval`` (numeric value as double), ``sval`` (the string/date
    display form used for min/max_str), ``kval`` (an injective string
    key, so COUNT(DISTINCT kval) == COUNT(DISTINCT col)) and a null
    flag. Pass A (counts, distinct, numeric stats) hash-aggregates the
    long form of every table at once; pass B (string/date min-max)
    runs its own strings-only long pass, so its immutable agg buffers
    cannot downgrade pass A to SortAggregate, and broadcast-joins in.
    One statement, so Catalyst analyzes the tree ONCE. ``parts`` is a
    list of (view_name, table_label, dtypes).
    """

    def cell_struct(c: str, kind: str) -> str:
        numeric = kind in NUMERIC_KINDS
        dval = f"CAST({c} AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
        if kind == "date":
            sval = f"CAST(CAST({c} AS DATE) AS STRING)"
        elif kind == "string":
            sval = c
        else:
            sval = "CAST(NULL AS STRING)"
        return (
            f"named_struct('column_name', '{c}', 'dtype', '{kind}',"
            f" 'dval', {dval}, 'sval', {sval},"
            f" 'kval', CAST({c} AS STRING),"
            f" 'isnull', CAST(({c} IS NULL) AS BIGINT))"
        )

    long_sel, str_sel = [], []
    for view, table, dtypes in parts:
        cells = ",\n      ".join(cell_struct(c, k) for c, k in dtypes.items())
        long_sel.append(
            f"SELECT '{table}' AS table_name, r.* FROM"
            f" (SELECT explode(array(\n      {cells})) AS r FROM {view})"
        )
        scells = ",\n      ".join(
            f"named_struct('column_name', '{c}', 'sval',"
            + (f" CAST(CAST({c} AS DATE) AS STRING))" if k == "date" else f" {c})")
            for c, k in dtypes.items()
            if k in ("string", "date")
        )
        if scells:
            str_sel.append(
                f"SELECT '{table}' AS table_name, r.* FROM"
                f" (SELECT explode(array(\n      {scells})) AS r FROM {view})"
            )
    long_all = "\nUNION ALL\n".join(long_sel)
    numeric_in = ", ".join(f"'{k}'" for k in sorted(NUMERIC_KINDS))
    n = "(total_count - null_count)"
    var = f"((__sumsq - __sum * __sum / {n}) / ({n} - 1))"
    b_cte, b_join, b_cols = "", "", (
        "CAST(NULL AS STRING) AS min_str, CAST(NULL AS STRING) AS max_str"
    )
    if str_sel:
        str_all = "\nUNION ALL\n".join(str_sel)
        b_cte = f""",
str_all AS (
{str_all}),
b AS (
  SELECT table_name, column_name,
         MIN(sval) AS min_str, MAX(sval) AS max_str
  FROM str_all GROUP BY table_name, column_name)"""
        b_join = (" LEFT JOIN b ON a.table_name = b.table_name"
                  " AND a.column_name = b.column_name")
        b_cols = "min_str, max_str"
    # the column GRID is metadata (known without data): emit a row per
    # declared column even when a table is EMPTY — counts coalesce to
    # 0, value stats stay NULL. Wave 7: the melt-groupBy alone yields
    # zero groups on an empty table while the reference profiler (and
    # the per-column scalar-aggregate oracle) reports every column.
    grid_vals = ",\n  ".join(
        f"('{table}', '{c}', '{k}')"
        for _view, table, dtypes in parts
        for c, k in dtypes.items()
    )
    if b_join:
        b_join = (" LEFT JOIN b ON g.table_name = b.table_name"
                  " AND g.column_name = b.column_name")
    return f"""
WITH long_all AS (
{long_all}),
a AS (
  SELECT table_name, column_name, dtype,
         COUNT(*) AS total_count,
         SUM(isnull) AS null_count,
         COUNT(DISTINCT kval) AS distinct_count,
         MIN(dval) AS min_num, MAX(dval) AS max_num,
         CAST(SUM(CAST(dval AS DECIMAL(22,6))) AS DOUBLE) AS __sum,
         CAST(SUM(CAST(dval * dval AS DECIMAL(38,8))) AS DOUBLE) AS __sumsq
  FROM long_all GROUP BY table_name, column_name, dtype){b_cte},
grid AS (
  SELECT * FROM (VALUES
  {grid_vals}) AS g(table_name, column_name, dtype))
SELECT {"/*+ BROADCAST(b) */" if str_sel else ""} g.table_name,
       g.column_name, g.dtype,
       CAST(COALESCE(total_count, 0) AS BIGINT) AS total_count,
       CAST(COALESCE(null_count, 0) AS BIGINT) AS null_count,
       CAST(COALESCE(distinct_count, 0) AS BIGINT) AS distinct_count,
       min_num, max_num,
       CASE WHEN g.dtype IN ({numeric_in}) AND {n} > 0
            THEN CAST(CAST(__sum / {n} AS DECIMAL(28,6)) AS DOUBLE)
       END AS avg_num,
       CASE WHEN g.dtype IN ({numeric_in}) AND {n} > 1
            THEN CAST(CAST(sqrt(greatest({var}, 0.0)) AS DECIMAL(28,6))
                      AS DOUBLE)
       END AS stddev_num,
       {b_cols}
FROM grid g LEFT JOIN a ON g.table_name = a.table_name
  AND g.column_name = a.column_name{b_join}
"""


class SimpleDataProfiler:
    """Spark-native realization of the reference's profiler contract
    (``tests/profiling_example.py:11-17,36-57``)."""

    def __init__(self, spark: SparkSession, settings: dict | None = None):
        self.spark = spark
        self.settings = settings or {}

    def profile_multiple_tables(
        self, tables: list[str], sf_dir: str, fecha: str | None = None,
        date_column: str | None = None,
    ) -> DataFrame:
        parts = []
        sample = self.settings.get("sample_size")
        # spread: the long-form explode multiplies rows x columns; an
        # unsplittable single-partition scan would run that expansion
        # on one core (see sources.spread). Each table takes a 1/N
        # slice of the target parallelism so the fused union totals
        # one wave of tasks instead of N waves of tiny ones.
        per_table = max(
            2, self.spark.sparkContext.defaultParallelism // max(1, len(tables))
        )
        for t in tables:
            df = spread(load_table(self.spark, sf_dir, t), per_table)
            if fecha and date_column and date_column in df.columns:
                df = df.filter(F.col(date_column).cast("date") == F.lit(fecha))
            if sample:
                df = _hash_sample(df, int(sample))
            view = f"__prof_{t}"
            df.createOrReplaceTempView(view)
            dtypes = {
                c: k for c, k in TABLE_DTYPES[t].items() if k != "array"
            }
            parts.append((view, t, dtypes))
        # All tables fuse into two jobs AND one analyzer pass: the whole
        # melt + aggregate + join is generated as a single SQL statement.
        # The previous DSL chain (~20 Dataset steps over a growing tree)
        # cost ~1.5 s of eager per-step Catalyst analysis per run —
        # measured to dominate this operator's wall-clock at sf0.1.
        return self.spark.sql(_profile_sql(parts))

    def with_run_metadata(
        self,
        df: DataFrame,
        environment: str = "dev",
        run_id: str | None = None,
    ) -> DataFrame:
        """Stamp run metadata (reference: profiling_example.py:20-21).
        ``run_id`` defaults to a fresh UUID; the job config may pin one
        (the reference's ``config.get('run_id', 'unknown')``)."""
        return df.withColumn(
            "run_id", F.lit(run_id or str(uuid.uuid4()))
        ).withColumn("environment", F.lit(environment))

    def append_history(self, df: DataFrame, path: str) -> None:
        """Append a profile run to the history table — the reference's
        BigQuery APPEND sink (``tests/profiling_example.py:24-28``,
        SURVEY.md §2.1 S2) over parquet. Long-format rows + stable
        schema make daily runs accumulate into one queryable history.
        """
        df.write.mode("append").parquet(path)

    def to_console(self, df: DataFrame, n: int = 50) -> str:
        """Console sink (SURVEY.md §2.1 S9): the reference prints its
        profile/DQ results to stdout in its notebook/job logs. Returns
        the rendered table as well so callers (and tests) can assert on
        it; ``df.show()`` would print without returning.
        """
        text = df._jdf.showString(n, 0, False)
        print(text)
        return text


def profile_histogram(
    df: DataFrame, column: str, buckets: int = 10
) -> DataFrame:
    """Equi-width histogram: two scans (min/max, then bucket counts).

    The bucket id is ``floor((x - min) / width)`` clamped to
    ``buckets-1`` — a pure-projection groupBy that scales linearly.
    """
    lo, hi = df.agg(
        F.min(column).cast("double"), F.max(column).cast("double")
    ).first()
    if lo is None or hi is None or hi <= lo:
        lo, hi = (lo or 0.0), (lo or 0.0) + 1.0
    width = (hi - lo) / buckets
    bucket = F.least(
        F.floor((F.col(column) - F.lit(lo)) / F.lit(width)),
        F.lit(buckets - 1),
    ).cast("bigint")
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bucket_lo", F.lit(lo) + F.col("bucket") * F.lit(width))
        .withColumn("bucket_hi", F.lit(lo) + (F.col("bucket") + 1) * F.lit(width))
    )


# ---------------------------------------------------------------------------
# Oracle twin for the profile demo (per-column scalar aggregates with
# the same expressions as _profile_sql over TABLE_DTYPES), generated per
# table so Spark/DuckDB stay in lockstep.
# ---------------------------------------------------------------------------

def _oracle_table_profile(table: str) -> str:
    dtypes = {c: k for c, k in TABLE_DTYPES[table].items() if k != "array"}
    rows = []
    for c, kind in dtypes.items():
        numeric = kind in NUMERIC_KINDS
        if numeric:
            # numeric stats run over the double-widened cell value
            # (long-form dval), so every product/sum below widens to
            # DOUBLE before the decimal cast on both engines
            d = f"CAST({c} AS DOUBLE)"
            min_num = f"MIN({d})"
            max_num = f"MAX({d})"
            # VARCHAR hops BOTH ways (spec.sql_dec2dbl / sql_dbl2dec):
            # decimal->double drifts 1 ulp past ~15 significant digits
            # (sumsq crosses that at sf1), and double->decimal scales
            # in double — at the adversarial 1e12 row the per-row
            # CAST(v*v AS DECIMAL(38,8)) was off by 7e7 absolute,
            # flipping the rounded stddev (wave 6). Both string routes
            # match Spark's BigDecimal semantics exactly.
            s1 = (
                f"CAST(CAST(SUM({sql_dbl2dec(d, 22, 6)})"
                f" AS VARCHAR) AS DOUBLE)"
            )
            s2 = (
                f"CAST(CAST(SUM({sql_dbl2dec(f'{d}*{d}', 38, 8)})"
                f" AS VARCHAR) AS DOUBLE)"
            )
            avg = (
                f"CASE WHEN COUNT({c}) > 0 THEN CAST(CAST("
                f"{s1} / COUNT({c})"
                f" AS DECIMAL(28,6)) AS DOUBLE) END"
            )
            stddev = (
                f"CASE WHEN COUNT({c}) > 1 THEN CAST(CAST(sqrt(greatest("
                f"({s2} - {s1} * {s1} / COUNT({c}))"
                f" / (COUNT({c}) - 1), 0.0)) AS DECIMAL(28,6)) AS DOUBLE) END"
            )
            min_str = max_str = "CAST(NULL AS VARCHAR)"
        else:
            min_num = max_num = avg = stddev = "CAST(NULL AS DOUBLE)"
            if kind == "date":
                min_str = f"CAST(CAST(MIN({c}) AS DATE) AS VARCHAR)"
                max_str = f"CAST(CAST(MAX({c}) AS DATE) AS VARCHAR)"
            else:
                min_str = f"MIN({c})"
                max_str = f"MAX({c})"
        rows.append(
            f"SELECT '{table}' AS table_name, '{c}' AS column_name, '{kind}' AS dtype, "
            f"COUNT(*) AS total_count, "
            f"COUNT(*) - COUNT({c}) AS null_count, "
            f"COUNT(DISTINCT {c}) AS distinct_count, "
            f"{min_num} AS min_num, {max_num} AS max_num, "
            f"{avg} AS avg_num, {stddev} AS stddev_num, "
            f"{min_str} AS min_str, {max_str} AS max_str "
            f"FROM {table}"
        )
    return "\nUNION ALL\n".join(rows)


PROFILE_TABLES = ["customer", "orders", "part", "supplier"]


def profile_core_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SimpleDataProfiler(spark).profile_multiple_tables(
        PROFILE_TABLES, sf_dir
    )


ORACLE_PROFILE = "\nUNION ALL\n".join(
    _oracle_table_profile(t) for t in PROFILE_TABLES
)


HIST_BUCKETS = 10


def profile_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width o_totalprice histogram (``calculate_histograms``
    flag of the reference profiler config)."""
    df = load_table(spark, sf_dir, "orders")
    return profile_histogram(df, "o_totalprice", HIST_BUCKETS).select(
        "bucket", "n", "bucket_lo", "bucket_hi"
    )


#: width/bounds arithmetic mirrors profile_histogram exactly: lo/hi are
#: exact doubles, width = (hi-lo)/buckets, bucket = least(floor(...)),
#: so both engines bucket and label identically.
ORACLE_HISTOGRAM = f"""
WITH mm AS (
  SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
         CAST(MAX(o_totalprice) AS DOUBLE) AS hi
  FROM orders),
b AS (
  SELECT LEAST(CAST(floor((o_totalprice - lo)
                    / ((hi - lo) / {HIST_BUCKETS})) AS INT),
               {HIST_BUCKETS - 1}) AS bucket,
         lo, hi
  FROM orders, mm
  WHERE o_totalprice IS NOT NULL)
SELECT bucket, COUNT(*) AS n,
       lo + bucket * ((hi - lo) / {HIST_BUCKETS}) AS bucket_lo,
       lo + (bucket + 1) * ((hi - lo) / {HIST_BUCKETS}) AS bucket_hi
FROM b
GROUP BY bucket, lo, hi
"""


SPECS: dict[str, QuerySpec] = {
    "profile_core_tables": QuerySpec(
        "profile_core_tables", profile_core_tables, ORACLE_PROFILE,
        "single-agg-pass column profiler over 4 tables, long format",
    ),
    "profile_histogram_orders": QuerySpec(
        "profile_histogram_orders", profile_histogram_orders,
        ORACLE_HISTOGRAM,
        "equi-width histogram (calculate_histograms profiler flag)",
    ),
}
