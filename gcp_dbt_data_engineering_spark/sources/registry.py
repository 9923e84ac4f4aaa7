"""Parquet-backed table registry.

Replaces the reference's BigQuery scan/sink pair
(``tests/dq_sql_notes.md:74``: ``spark.read.format("bigquery")``;
``tests/profiling_example.py:24-28``: APPEND sink) with parquet sources
(SURVEY.md §2.1 S1/S2). The registry is the single place that knows the
physical layout, so every operator above it is storage-agnostic — on a
real deployment this is where you'd swap in a catalog table, Iceberg
layout, or the BigQuery connector again.

Scale notes (100 TB posture):

- Reads are plain ``spark.read.parquet`` → Catalyst handles column
  pruning + predicate/aggregate pushdown + partition pruning; nothing is
  collected to the driver.
- ``events.ts`` is parquet TIMESTAMP(MICROS) in the driver corpora
  (sf0.001-sf0.1) and Spark reads it as a timestamp directly. A corpus
  that stores it as TIMESTAMP(NANOS) reads only as bigint (Spark 4,
  ``spark.sql.legacy.parquet.nanosAsLong``); for that file we rebuild a
  ``timestamp_ntz`` from the raw nanos with integer arithmetic — a
  codegen-friendly projection, no UDF, negligible cost at any scale.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import ARTIFACTS_DIR
from ..session import memo, tune

#: All tables the driver test data provides (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Static column → type-kind map for the driver tables (TESTDATA.md).
#: Used where a plan must be built without a live session (e.g. the
#: DuckDB-oracle compiler needs dtype guards before Spark runs).
#: kinds: "string" | "float" (isnan applies) | "int" | "date" | other
TABLE_DTYPES: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "int", "c_name": "string", "c_nationkey": "int",
        "c_acctbal": "float", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int", "s_name": "string", "s_nationkey": "int",
        "s_acctbal": "float",
    },
    "part": {
        "p_partkey": "int", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int", "p_retailprice": "float",
    },
    "orders": {
        "o_orderkey": "int", "o_custkey": "int", "o_orderstatus": "string",
        "o_totalprice": "float", "o_orderdate": "date",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
        "l_linenumber": "int", "l_quantity": "float",
        "l_extendedprice": "float", "l_discount": "float", "l_tax": "float",
        "l_returnflag": "string", "l_linestatus": "string",
        "l_shipdate": "date",
    },
    "events": {
        "event_id": "int", "ts": "date", "user_id": "int",
        "event_type": "string", "value": "float", "props": "string",
    },
    "documents": {
        "doc_id": "int", "text": "string", "lang": "string",
        "source": "string", "n_chars": "int",
    },
    "embeddings": {"vec_id": "int", "embedding": "array", "label": "int"},
}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


#: Files below this size stay raw: their one scan task is cheaper than
#: fanning out. Above it, a file with fewer row groups than cores would
#: run every scan's decode, and every operator above the scan, on that
#: few cores. 400 KB catches documents/embeddings at sf0.1.
STAGE_MIN_BYTES = 400_000
STAGE_DIR = os.path.join(ARTIFACTS_DIR, "staged")


#: Age after which :func:`stage_artifact` reaps an older-keyed artifact
#: or an unfinished tmp dir: a concurrent session's lazy plans may still
#: read an artifact it staged moments ago (paths are cached per
#: session), so only directories no live session plausibly points at go.
STAGE_TTL_S = 3600.0


def is_stale(path: str) -> bool:
    """True when ``path`` is gone or was last modified over
    :data:`STAGE_TTL_S` ago."""
    try:
        return time.time() - os.stat(path).st_mtime > STAGE_TTL_S
    except OSError:
        return True


def source_key(sf_dir: str, table: str) -> str:
    """``<sf>-<mtime_ns>-<size>``: the version of one source table file.

    A corpus regenerated in place gets a new key, so an artifact
    derived from the old file is never served for the new one.
    """
    st = os.stat(table_path(sf_dir, table))
    sf = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return f"{sf}-{st.st_mtime_ns}-{st.st_size}"


def stage_artifact(
    root: str,
    kind: str,
    sf_dir: str,
    table: str,
    write: Callable[[str], None],
) -> str:
    """Return ``<root>/<kind>@<source_key>``, built once by ``write(tmp)``.

    The engine's one protocol for a table derived on disk from a source
    table (the split layouts below, the ORC, partitioned, z-ordered and
    fragmented copies of plans/layout.py):

    - **skip**: a directory with a ``_SUCCESS`` marker is returned as is;
    - **publish**: ``write`` fills ``<path>.tmp-<pid>`` and leaves a
      ``_SUCCESS`` marker there; the tmp dir is renamed into place, so
      readers only ever see a complete directory. A write that raises
      removes its tmp dir. A rename that fails against a complete
      occupant lost a race to another session, and our copy is dropped;
      a torn occupant (no ``_SUCCESS``) is evicted and the rename
      retried once;
    - **reap**: every other entry named ``<kind>@<sf>-*`` (older keys of
      the same kind and scale factor, any process's tmp dirs, scratch
      dirs named after the artifact) older than :data:`STAGE_TTL_S` is
      removed. Other scale factors' artifacts are never touched.
    """
    key = source_key(sf_dir, table)
    prefix = f"{kind}@{key.rsplit('-', 2)[0]}-"  # any version of the source
    path = os.path.join(root, f"{kind}@{key}")
    for d in os.listdir(root) if os.path.isdir(root) else ():
        full = os.path.join(root, d)
        if d.startswith(prefix) and full != path and is_stale(full):
            shutil.rmtree(full, ignore_errors=True)
    done = os.path.join(path, "_SUCCESS")
    if os.path.exists(done):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)  # a dead same-pid attempt
    try:
        write(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    for retry in (False, True):
        try:
            os.rename(tmp, path)
            return path
        except OSError:
            if retry or os.path.exists(done):
                break
            shutil.rmtree(path, ignore_errors=True)  # torn occupant
    shutil.rmtree(tmp, ignore_errors=True)
    return path


def _split_parquet(path: str, out_dir: str, n: int) -> None:
    """Write ``path`` back as contiguous row slices under ``out_dir``.

    Each of the source's ``R`` row groups is read alone and cut into
    ``ceil(n / R)`` slices, so there are at least ``n`` slices and
    memory holds one row group at a time. A row group is read through
    the dataset scanner, ``pq.read_table``'s own reader, so a
    one-row-group source is sliced from the same Arrow batches as a
    whole-file read and writes the same bytes. One
    ``part-<i>.parquet`` per slice, each ONE row group, with the
    source's Arrow schema (metadata included) and the writer's default
    codec. Part names sort in slice order, so the parts concatenated
    by name are the source table row for row.
    """
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    (src,) = ds.dataset(path, format="parquet").get_fragments()
    groups = src.split_by_row_group()
    per_group = -(-n // len(groups))
    os.makedirs(out_dir)
    for g, group in enumerate(groups):
        table = group.to_table()
        step = -(-table.num_rows // per_group)
        for j in range(per_group):
            part = table.slice(j * step, step)
            pq.write_table(
                part,
                os.path.join(out_dir, f"part-{g * per_group + j:05d}.parquet"),
                row_group_size=max(1, part.num_rows),
            )
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()


def _stage_if_unsplittable(
    spark: SparkSession, path: str, name: str, sf_dir: str
) -> str:
    """Return a readable path whose parquet layout splits across cores.

    The engine's one decision on how a source table splits. Parquet
    splits only at row-group boundaries, so a file with fewer row
    groups than cores (the driver fixtures are ONE row group per table)
    decodes on that few cores no matter what ``maxPartitionBytes``
    says, and so does every operator above the scan until a shuffle.
    The fix is the same one-time ingest/compaction step any lake runs
    (Delta OPTIMIZE, Iceberg rewrite_data_files): rewrite a file of at
    least :data:`STAGE_MIN_BYTES` with fewer than ``n = min(16,
    defaultParallelism)`` row groups once into at least ``n`` files
    under ``.artifacts/staged`` and read that, so the scan splits one
    file per task and no operator needs a repartition to use every
    core.

    The rewrite runs on the driver with pyarrow (:func:`_split_parquet`):
    one Arrow read per row group, each cut into contiguous slices, each
    slice written as one row group with the source's exact Arrow schema
    — so a nanosecond timestamp stays nanoseconds and Spark reads the
    staged files with the same schema as the raw one. It launches no
    Spark job and shuffles nothing. Slices keep the source's row order,
    and the part names sort in that order, so the staged table
    concatenated by name equals the raw table, which a test checks
    with ``Table.equals``.

    Memory: an Arrow read holds one decoded row group in driver memory,
    where Spark's task streamed it in batches. The cost is bounded by
    one row group, the unit the source's writer already buffered whole.
    Files with at least ``n`` row groups already split across every
    core and are read raw, at any size.

    Keying, atomic publication and cleanup are :func:`stage_artifact`'s;
    layout only — row *contents* are identical, which every DuckDB
    oracle (reading the RAW file) re-proves on each gate run.
    """
    n = min(16, spark.sparkContext.defaultParallelism)
    try:
        import pyarrow.parquet as pq

        if (
            os.path.getsize(path) < STAGE_MIN_BYTES
            or pq.ParquetFile(path).metadata.num_row_groups >= n
        ):
            return path  # small, or already splittable: read the raw file
    except Exception:
        return path
    return stage_artifact(
        STAGE_DIR, name, sf_dir, name, lambda tmp: _split_parquet(path, tmp, n)
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; normalizes an events timestamp stored as nanos.

    Memoized per (session, path): ``spark.read.parquet`` does a
    driver-side footer/schema read (~0.1-0.2 s each) on every call,
    which dominated plan-build time for multi-table specs. DataFrame
    plans are immutable, so reusing one per session is free; the
    :func:`session.memo` entry dies with the session object.
    """
    tune(spark)
    path = table_path(sf_dir, name)

    def build() -> DataFrame:
        df = spark.read.parquet(
            _stage_if_unsplittable(spark, path, name, sf_dir)
        )
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # nanos → micros with integer division, then NTZ timestamp.
            # Session TZ is UTC (session.RUNTIME_CONF) so LTZ→NTZ is
            # lossless.
            df = df.withColumn(
                "ts",
                F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"),
            )
        return df

    return memo(spark, "table", path, build)


#: File formats :func:`load_source` and :func:`write_sink` dispatch on
#: (each is also the name of the DataFrameReader/Writer method).
_FORMATS = ("parquet", "csv", "json", "orc")


def load_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options: str,
) -> DataFrame:
    """Format-dispatching reader (S1 generalized): parquet (columnar,
    splittable — the default and the only sane 100 TB choice), orc
    (the other columnar lake format, built into Spark), csv and
    json (ingest-edge formats; header/inference defaulted on, but pass
    ``schema`` in production — inference scans the data twice).
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported source format: {fmt!r}")
    tune(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        infer = "true" if schema is None else "false"
        options = {"header": "true", "inferSchema": infer, **options}
    return getattr(reader.options(**options), fmt)(path)


def write_sink(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Format-dispatching writer (S2 generalized). ``partition_by``
    produces hive-layout directories — the physical contract that
    makes the reference's daily ``fecha`` slices partition-pruned
    reads instead of full scans (SURVEY.md §1.1/§4).
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported sink format: {fmt!r}")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer = writer.option("header", "true")
    getattr(writer, fmt)(path)


def register_all(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every table as a temp view; returns name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def collect_table_stats(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = TABLES,
) -> dict[str, dict[str, int]]:
    """``ANALYZE TABLE``-equivalent row/size stats for the registry.

    Spark's broadcast decision for file relations comes from raw file
    size alone, and AQE only refines it AFTER a shuffle materializes;
    a cost-based decision made at PLAN time (join side choice,
    broadcast of a table the size estimate misjudges, pre-shuffle
    strategy hints) needs real stats up front — exactly what
    ``ANALYZE TABLE ... COMPUTE STATISTICS`` records into a catalog.
    Temp views over parquet have no catalog entry, so the registry
    gathers the same numbers itself: exact row counts and byte sizes
    from parquet FOOTERS (metadata-only — no data pages are read, so
    this is O(files), not O(bytes), and at 100 TB it is the same
    cheap metadata pass the catalog's ANALYZE runs). A
    :func:`session.memo` entry per (session, sf_dir, tables). Consumed by
    :func:`stats_informed_join` and, on a catalog-backed deployment, by
    ``spark.sql.cbo.enabled``.
    """
    import pyarrow.parquet as pq

    def build() -> dict[str, dict[str, int]]:
        stats: dict[str, dict[str, int]] = {}
        for name in tables:
            path = table_path(sf_dir, name)
            rows = 0
            size = 0
            files = (
                [
                    os.path.join(path, f)
                    for f in os.listdir(path)
                    if f.endswith(".parquet")
                ]
                if os.path.isdir(path)
                else [path]
            )
            for f in files:
                rows += pq.ParquetFile(f).metadata.num_rows
                size += os.path.getsize(f)
            stats[name] = {"rows": rows, "size_bytes": size}
        return stats

    return memo(spark, "stats", (sf_dir, tuple(tables)), build)


def stats_informed_join(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str = "inner",
    *,
    right_name: str,
    stats: dict[str, dict[str, int]],
    threshold_bytes: int = 10 << 20,
) -> DataFrame:
    """Join with the broadcast decision made from REGISTRY STATS, the
    way a CBO decides it from catalog stats.

    If the right relation's recorded size fits the broadcast
    threshold, the join is hinted broadcast regardless of Spark's own
    size estimate (which, for a derived/aggregated relation, defaults
    to the child's size and routinely blocks an obviously-broadcastable
    side into a sort-merge join). Asserted to FLIP the physical plan
    in tests/test_plan_shapes.py. On a 1000-executor cluster this is
    the difference between shipping a 1 MB dim to every executor and
    shuffling the 100 TB fact side.
    """
    s = stats.get(right_name)
    if s is not None and s["size_bytes"] <= threshold_bytes:
        right = F.broadcast(right)
    return left.join(right, on, how)
