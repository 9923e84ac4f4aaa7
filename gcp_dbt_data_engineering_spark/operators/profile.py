"""Data profiler — reference E3 (``tests/profiling_example.py``).

The reference calls an (undefined) ``SimpleDataProfiler.
profile_multiple_tables(table_list, fecha)`` honoring config
``sample_size`` / ``include_schema_info`` / ``calculate_histograms``
(``tests/profiling_example.py:14-17,52-57``), stamps ``run_id`` /
``environment`` (``:20-21``) and appends to a results table (``:24-28``).
We design its internals Spark-first, scanning each table in place and
shipping no row that a later operator does not need:

- every statistic but the distinct count is a GLOBAL aggregate: one
  wide ``SELECT COUNT(*), COUNT(c), MIN(..), MAX(..), SUM(..) ..``
  per table, with no melt. Each map task ships one pre-aggregated row
  to the final stage, so the shuffle is a few hundred bytes per task
  whatever the table's size, and the wide row is turned back into one
  row per column with ``inline``. String min/max buffers are
  immutable, so these aggregates plan as SortAggregate; with no
  grouping key that costs no sort.
- distinct counts run over one narrow long form of every table:
  ``(cid, CAST(c AS STRING))`` — the column id and an injective
  string key, so ``COUNT(DISTINCT k)`` == ``COUNT(DISTINCT c)`` —
  grouped by the integer id. It plans as a two-phase hash aggregate
  over (cid, k), the standard distributed distinct shape, no Expand
  of the input. It is the profile's one row-scale shuffle, so each
  distinct key carries an int id and nothing else: no names, no
  statistic buffers.
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

Parquet footers could answer counts and min/max without a scan, but
distinct counts and the exact decimal sums need the scan anyway: a
footer path would add a second code path and save no job.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.spec import QuerySpec, sql_dbl2dec
from ..sources import TABLE_DTYPES, load_table

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

    Every profiled column gets an integer id ``cid``. Three parts:

    - ``stats``: per table ONE global aggregate over the table's view —
      ``COUNT(*)`` and, per column, ``COUNT(c)``, min/max of the
      double-widened value, the exact decimal sum and sum of squares
      (numeric kinds) and min/max of the string/date display form —
      turned back into one row per ``cid`` by ``inline``.
    - ``d``: ``COUNT(DISTINCT k) GROUP BY cid`` over the union of every
      table's narrow ``(cid, k = CAST(c AS STRING))`` long form.
    - the GRID of declared columns (metadata, known without data)
      left-joins both on ``cid``, so an EMPTY table still reports every
      column: counts 0, value stats NULL, like the per-column
      scalar-aggregate oracle.

    One statement, so Catalyst analyzes the tree ONCE. ``parts`` is a
    list of (view_name, table_label, dtypes).
    """
    grid, stats, keys = [], [], []
    for view, table, dtypes in parts:
        aggs, rows, cells = ["COUNT(*) AS n"], [], []
        for c, kind in dtypes.items():
            i = len(grid)
            grid.append(f"({i}, '{table}', '{c}', '{kind}')")
            aggs.append(f"COUNT({c}) AS nn{i}")
            num = ["CAST(NULL AS DOUBLE)"] * 4
            if kind in NUMERIC_KINDS:
                d = f"CAST({c} AS DOUBLE)"
                aggs += [
                    f"MIN({d}) AS lo{i}", f"MAX({d}) AS hi{i}",
                    f"CAST(SUM(CAST({d} AS DECIMAL(22,6))) AS DOUBLE) AS s{i}",
                    f"CAST(SUM(CAST({d} * {d} AS DECIMAL(38,8))) AS DOUBLE)"
                    f" AS ss{i}",
                ]
                num = [f"lo{i}", f"hi{i}", f"s{i}", f"ss{i}"]
            txt = ["CAST(NULL AS STRING)"] * 2
            if kind in ("string", "date"):
                sval = f"CAST(CAST({c} AS DATE) AS STRING)" if kind == "date" else c
                aggs += [f"MIN({sval}) AS slo{i}", f"MAX({sval}) AS shi{i}"]
                txt = [f"slo{i}", f"shi{i}"]
            rows.append(
                f"named_struct('cid', {i}, 'total_count', n,"
                f" 'null_count', n - nn{i}, 'min_num', {num[0]},"
                f" 'max_num', {num[1]}, '__sum', {num[2]}, '__sumsq', {num[3]},"
                f" 'min_str', {txt[0]}, 'max_str', {txt[1]})"
            )
            cells.append(f"named_struct('cid', {i}, 'k', CAST({c} AS STRING))")
        sep = ",\n      "
        stats.append(
            f"SELECT inline(array(\n      {sep.join(rows)}))\n"
            f"FROM (SELECT {', '.join(aggs)} FROM {view})"
        )
        keys.append(f"SELECT inline(array(\n      {sep.join(cells)})) FROM {view}")
    union = "\nUNION ALL\n"
    grid_vals = ",\n  ".join(grid)
    numeric_in = ", ".join(f"'{k}'" for k in sorted(NUMERIC_KINDS))
    n = "(total_count - null_count)"
    var = f"((__sumsq - __sum * __sum / {n}) / ({n} - 1))"
    return f"""
WITH stats AS (
{union.join(stats)}),
d AS (
  SELECT cid, COUNT(DISTINCT k) AS distinct_count
  FROM ({union.join(keys)}) GROUP BY cid),
grid AS (
  SELECT * FROM (VALUES
  {grid_vals}) AS g(cid, table_name, column_name, dtype))
SELECT g.table_name, g.column_name, g.dtype,
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
       min_str, max_str
FROM grid g LEFT JOIN stats s ON g.cid = s.cid LEFT JOIN d ON g.cid = d.cid
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
        """Profile every column of ``tables`` in one statement (see
        ``_profile_sql``). Each table is registered as a view after the
        ``fecha`` day filter and the ``sample_size`` cap; both parts of
        the statement read those views."""
        parts = []
        sample = self.settings.get("sample_size")
        for t in tables:
            df = load_table(self.spark, sf_dir, t)
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
        # one generated SQL statement, not a DSL chain: a chain of ~20
        # Dataset steps re-analyzes the growing tree at every step
        # (~1.5 s of driver time per run at sf0.1)
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
    """Equi-width histogram in one lazy plan: the 1-row min/max
    aggregate is cross-joined (broadcast) into the bucket-count pass,
    so building the DataFrame runs no Spark job.

    The bucket id is ``floor((x - lo) / width)`` clamped to
    ``buckets-1`` — a pure-projection groupBy that scales linearly. A
    column with no values, or a single value, gets ``[lo, lo + 1)`` as
    its range (``lo`` 0.0 when there are no values).
    """
    mm = df.agg(
        F.min(column).cast("double").alias("lo"),
        F.max(column).cast("double").alias("hi"),
    )
    lo0, hi0 = F.col("lo"), F.col("hi")
    flat = lo0.isNull() | hi0.isNull() | (hi0 <= lo0)
    lo = F.coalesce(lo0, F.lit(0.0))
    hi = F.when(flat, lo + F.lit(1.0)).otherwise(hi0)
    bounds = mm.select(
        lo.alias("__lo"), ((hi - lo) / F.lit(buckets)).alias("__w")
    )
    lo, width = F.col("__lo"), F.col("__w")
    bucket = F.least(
        F.floor((F.col(column) - lo) / width), F.lit(buckets - 1)
    ).cast("bigint")
    return (
        df.filter(F.col(column).isNotNull())
        .crossJoin(bounds)
        .groupBy(bucket.alias("bucket"), "__lo", "__w")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bucket_lo", lo + F.col("bucket") * width)
        .withColumn("bucket_hi", lo + (F.col("bucket") + 1) * width)
        .drop("__lo", "__w")
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
            # (the profiler's CAST(c AS DOUBLE)), so every product/sum
            # below widens to DOUBLE before the decimal cast on both
            # engines
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
        "column profiler over 4 tables: a global aggregate per table "
        "plus one narrow distinct pass, long format",
    ),
    "profile_histogram_orders": QuerySpec(
        "profile_histogram_orders", profile_histogram_orders,
        ORACLE_HISTOGRAM,
        "equi-width histogram (calculate_histograms profiler flag)",
    ),
}
