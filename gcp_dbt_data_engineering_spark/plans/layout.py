"""Physical-layout operators: bucketing and date-partitioned layouts.

The reference's scale mechanisms are BigQuery-side (clustering and
daily ``fecha`` partitions — `tests/example_templates.yaml:20`,
`tests/dq_sql_notes.md:75`: every job reads exactly one date slice).
Spark's equivalents are first-class physical layouts, and they are the
difference between "works at sf0.1" and "works at 100 TB":

- **Bucketing** pre-shuffles a table by join key at write time.  Two
  tables bucketed by the same key into the same bucket count join with
  NO exchange on either side — at 100 TB that removes the single
  largest cost of a fact⋈fact join (re-shuffling both inputs per
  query); you pay the shuffle once at ingest, then every downstream
  join is co-located.
- **Date partitioning** (hive-layout ``fecha=.../`` directories) turns
  the reference's daily-slice idiom into a partition-pruned scan: one
  day's DQ job reads one directory, not the table.

Each spec materializes its layout under ``.artifacts/layout`` on first
use (path layouts through ``sources.registry.stage_artifact``: keyed on
the source file's version, published atomically, reaped when stale)
and then runs the query against the laid-out data; the oracle runs the
same query on the raw table, proving layout changes *cost*, never
*semantics*.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import ARTIFACTS_DIR
from ..sources import load_table
from ..sources.registry import is_stale, source_key, stage_artifact
from .models import _write_schema_stub, read_table
from .spec import QuerySpec, money_sum, sql_money_sum

ART = os.path.join(ARTIFACTS_DIR, "layout")

N_BUCKETS = 8


def _prune_stale_catalog(spark: SparkSession, prefix: str, keep: str) -> None:
    """Catalog twin of ``stage_artifact``'s reap (ADVICE r8): the
    bucketed tables embed the source key in their names, so every corpus
    rewrite mints a new name — without this, older-keyed
    ``b_lineitem_*``/``b_orders_*`` tables and their warehouse data
    accumulate forever. Same age gate (``is_stale``): a concurrent
    session's lazy plans may still read a table it registered recently.
    A ``saveAsTable`` cannot be published by a tmp rename, so these
    tables are not staged through ``stage_artifact``."""
    for tbl in spark.catalog.listTables():
        path = f"{ART}/{tbl.name}"
        if tbl.name.startswith(prefix) and tbl.name != keep and is_stale(path):
            spark.sql(f"DROP TABLE IF EXISTS {tbl.name}")
            shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# bucketed co-located fact⋈fact join
# ---------------------------------------------------------------------------

def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize lineitem/orders bucketed+sorted by order key.

    ``saveAsTable`` registers catalog metadata (bucket spec) that the
    scan planner uses to report the hash-partitioned output
    distribution; a plain parquet path write cannot carry that
    metadata, which is why this op goes through the session catalog.
    """
    names = []
    for src, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        name = f"b_{src}_{source_key(sf_dir, src)}"
        name = name.replace(".", "_").replace("-", "_")
        names.append(name)
        if not spark.catalog.tableExists(name):
            # listing the catalog runs jobs: prune only on a (re)write,
            # the one time a new name can have made an older one stale
            _prune_stale_catalog(spark, f"b_{src}_", name)
            # always (re)write on a fresh session: the bucket spec
            # lives in catalog metadata, and registering a bare path
            # with createTable would silently drop it — the one-time
            # ingest shuffle is the price of every later shuffle-free
            # join, which is the whole trade.
            (
                load_table(spark, sf_dir, src)
                .write.bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .option("path", f"{ART}/{name}")
                .mode("overwrite")
                .saveAsTable(name)
            )
    return names[0], names[1]


def bucketed_orders_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority off the bucketed layout.

    The lineitem⋈orders join runs with no Exchange on either side
    (asserted in tests/test_plans_and_hash.py): both scans report the
    same hash distribution from the bucket spec. The ``merge`` hint
    pins sort-merge so the demo doesn't degenerate to a broadcast at
    test scale — at 100 TB neither side broadcasts anyway.
    """
    li_name, o_name = _bucketed_tables(spark, sf_dir)
    li = spark.table(li_name)
    orders = spark.table(o_name).hint("merge")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLE_BUCKETED_REVENUE = f"""
SELECT o_orderpriority,
       {sql_money_sum("l_extendedprice * (1 - l_discount)", "revenue")},
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# fecha-partitioned daily slice (the reference's unit of work)
# ---------------------------------------------------------------------------

def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    def write(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "fecha", F.col("ts").cast("date")
        )
        ev.write.partitionBy("fecha").mode("overwrite").parquet(tmp)
        # a zero-event corpus writes no partition dirs; the stub
        # keeps the layout readable (see models._write_schema_stub)
        _write_schema_stub(tmp, ev)

    return stage_artifact(ART, "events_by_fecha", sf_dir, "events", write)


def events_fecha_partitioned_slice(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One day's event rollup off a hive-partitioned layout.

    The ``fecha = <day>`` predicate prunes to a single partition
    directory at *planning* time (PartitionFilters in the scan, no
    data read outside the slice) — the Spark realization of the
    reference's "every DQ/profiling job filters one fecha"
    (dq_sql_notes.md:75). The day picked is mid-range of the
    events table (2024-01-01..30 at every sf) so the slice is never
    empty.
    """
    path = _partitioned_events(spark, sf_dir)
    ev = read_table(spark, path)
    day = "2024-01-15"
    return (
        ev.filter(F.col("fecha") == F.lit(day).cast("date"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            money_sum(F.col("value"), "total_value"),
        )
    )


ORACLE_FECHA_SLICE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {sql_money_sum("value", "total_value")}
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-15'
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# ORC lake scan (the second columnar format, same query semantics)
# ---------------------------------------------------------------------------

def orders_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order stats off an ORC copy of the table.

    Materializes orders as ORC once per sf (splittable columnar
    layout, predicate pushdown and column pruning just like parquet)
    and answers from it; the oracle answers from the raw parquet,
    proving the format swap changes nothing semantically.
    """
    from ..sources import load_source, write_sink

    path = stage_artifact(
        ART, "orders_orc", sf_dir, "orders",
        lambda t: write_sink(
            load_table(spark, sf_dir, "orders"), t, fmt="orc"
        ),
    )
    od = load_source(spark, path, fmt="orc").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz")
    )
    return od.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(F.col("o_totalprice"), "total_price"),
    )


ORACLE_ORC_SCAN = f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       {sql_money_sum("o_totalprice", "total_price")}
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# z-order (Morton) clustering: multi-dimensional locality for file skipping
# ---------------------------------------------------------------------------

ZBITS = 16


def _z_expr(x: str, y: str) -> str:
    """Morton interleave of two ZBITS-bit ints — identical SQL text in
    both engines (``>> << &`` are common operators); 32 additive terms,
    all exact integer arithmetic."""
    terms = []
    for i in range(ZBITS):
        # every term fully parenthesized: SQL gives + higher precedence
        # than <<, so an unwrapped `a << 2 + b` parses as a << (2 + b)
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


#: dims: user_id (low 16 bits) x minute-of-day — the two columns an
#: event-analytics workload filters together (who + when)
_ZX = "CAST(user_id & 65535 AS BIGINT)"
_ZY = "CAST(CAST(hour(ts) AS BIGINT) * 60 + CAST(minute(ts) AS BIGINT) AS BIGINT)"


def _zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # range-partition + sort on z = Delta's OPTIMIZE ZORDER BY: each
    # output file covers a compact z-range, hence a bounded rectangle in
    # (user, minute) space, so per-file min/max stats prune on BOTH
    # dimensions at scan time.
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "*", f"{_z_expr(_ZX, _ZY)} AS z"
    )
    path = stage_artifact(
        ART, "events_zorder", sf_dir, "events",
        lambda t: ev.repartitionByRange(8, F.col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(t),
    )
    # the written schema is known: reading with it skips the footer
    # inference job every rebuild would pay
    return spark.read.schema(ev.schema).parquet(path)


def events_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-z-cell locality stats off the z-ordered layout.

    Materializes the Morton-clustered events layout once per corpus,
    then reports, per coarse z cell (z >> 14: a 128x128 (user, minute) box), the row count and
    the (user, minute) bounding box — the quantity file-skipping
    actually uses: a z-range scan touches only cells whose box
    intersects the predicate on EITHER dimension. The oracle computes
    identical stats from the raw table (layout changes cost, never
    values). At 100 TB this is the difference between scanning a
    day-user slice and scanning the table: min/max stats per file on
    both dims, no second sort key needed.
    """
    return (
        _zorder_events(spark, sf_dir)
        .selectExpr(
            "z >> 14 AS z_cell",
            f"{_ZX} AS ux",
            f"{_ZY} AS minute_of_day",
        )
        .groupBy("z_cell")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ux").alias("user_lo"),
            F.max("ux").alias("user_hi"),
            F.min("minute_of_day").alias("minute_lo"),
            F.max("minute_of_day").alias("minute_hi"),
        )
    )


ORACLE_ZORDER = f"""
WITH z AS (
  SELECT {_z_expr(_ZX, _ZY)} AS z,
         {_ZX} AS ux, {_ZY} AS minute_of_day
  FROM events)
SELECT z >> 14 AS z_cell,
       COUNT(*) AS n_events,
       MIN(ux) AS user_lo, MAX(ux) AS user_hi,
       MIN(minute_of_day) AS minute_lo, MAX(minute_of_day) AS minute_hi
FROM z GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Small-file compaction — the routine 100 TB table-maintenance op
# ---------------------------------------------------------------------------

#: fragmentation of the staged input (shards of the orders table)
COMPACT_SHARDS = 64
#: target rows per compacted file (the deterministic stand-in for a
#: bytes-per-file target: parquet byte sizes vary with encoder
#: versions, row counts do not)
COMPACT_ROWS_PER_FILE = 4096


def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: read a fragmented table ({S} shard files
    — the state every streaming/incremental ingest leaves behind),
    rewrite it as ceil(rows / {R}) right-sized files, and prove the
    rewrite changed LAYOUT, never CONTENT. At 100 TB this is the
    maintenance job that keeps scan task counts (and NameNode/manifest
    pressure) sane; the proof obligation — content-identical before
    and after — is exactly what the oracle checks by aggregating the
    raw table.

    The fragmented input stages once per sf_dir (repartition({S}) on
    the write); compaction runs every call (it IS the measured op):
    one wide repartition to the target file count, then a parquet
    rewrite + read-back. Output: row count + exact revenue checksum
    computed FROM THE COMPACTED FILES, so any row lost or doubled by
    the rewrite breaks the oracle match.
    """
    frag = stage_artifact(
        ART, "fragmented_orders", sf_dir, "orders",
        lambda t: load_table(spark, sf_dir, "orders")
        .repartition(COMPACT_SHARDS)
        .write.mode("overwrite")
        .parquet(t),
    )
    df = spark.read.parquet(frag)
    # sizing input from parquet FOOTERS, not a count() job: num_rows is
    # exact committed metadata (the registry's collect_table_stats
    # discipline) and the file-count decision is a planning input — the
    # oracle-checked n_rows below is still computed from the compacted
    # DATA, so the content proof is untouched. O(files) driver-side vs
    # a full-scan job per rebuild. The file list comes from
    # df.inputFiles() — exactly the set Spark will read (ADVICE r11:
    # os.listdir diverges from the reader's enumeration the moment the
    # layout moves remote/partitioned); a remote scheme or any footer
    # hiccup falls back to the counted scan.
    import pyarrow.parquet as pq

    try:
        n = sum(
            pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows
            for f in df.inputFiles()
        )
    except Exception:  # non-local path (s3a://, hdfs://): one scan job
        n = df.count()
    target = max(1, -(-n // COMPACT_ROWS_PER_FILE))
    # per-PID scratch dir read back immediately below. Named after the
    # fragmented artifact, so stage_artifact reaps it once stale; nothing
    # gates on its _SUCCESS marker, so skip the marker's job-commit
    # write (~25 ms)
    compacted = f"{frag}_compacted_orders-{os.getpid()}"
    df.repartition(target).write.option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    ).mode("overwrite").parquet(compacted)
    # read back with the known schema: the compacted layout carries the
    # fragmented table's schema verbatim (repartition is layout-only),
    # and df.schema IS parquet inference's output for these files — an
    # explicit schema skips the per-rebuild footer-inference job
    out = spark.read.schema(df.schema).parquet(compacted)
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        money_sum(F.col("o_totalprice"), "revenue_checksum"),
        F.countDistinct("o_orderkey").alias("n_distinct_keys"),
    ).selectExpr(
        "n_rows",
        f"CAST({target} AS BIGINT) AS n_files_target",
        "n_distinct_keys",
        "revenue_checksum",
    )


ORACLE_COMPACT = f"""
SELECT COUNT(*) AS n_rows,
       CAST(GREATEST(1, CAST(ceil(COUNT(*) / {COMPACT_ROWS_PER_FILE}.0)
            AS BIGINT)) AS BIGINT) AS n_files_target,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct_keys,
       {sql_money_sum('o_totalprice', 'revenue_checksum')}
FROM orders
"""


SPECS: dict[str, QuerySpec] = {
    s.name: s
    for s in [
        QuerySpec("bucketed_orders_revenue", bucketed_orders_revenue,
                  ORACLE_BUCKETED_REVENUE,
                  "fact-fact join with zero exchanges via bucketed layout"),
        QuerySpec("orders_orc_scan", orders_orc_scan, ORACLE_ORC_SCAN,
                  "ORC columnar roundtrip: same semantics, second format"),
        QuerySpec("events_fecha_partitioned_slice",
                  events_fecha_partitioned_slice, ORACLE_FECHA_SLICE,
                  "partition-pruned daily slice over hive layout"),
        QuerySpec("events_zorder_locality", events_zorder_locality,
                  ORACLE_ZORDER,
                  "Morton-clustered layout: per-cell (user, minute) "
                  "bounding boxes, the file-skipping quantity"),
        QuerySpec("compact_small_files", compact_small_files,
                  ORACLE_COMPACT,
                  "small-file compaction: 64 shards -> right-sized "
                  "files, content-identity proven against the raw "
                  "table", kind="materialization", batches=1),
    ]
}
