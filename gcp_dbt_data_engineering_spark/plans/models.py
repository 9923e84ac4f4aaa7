"""dbt-style model layer: SQL models + ref() DAG + materialization.

Reference surface (SURVEY.md §3 E1):

- ``dbt_project.yml:31-42`` — per-directory materialization config with
  per-model ``{{ config(materialized='...') }}`` override
  (``models/example/my_first_dbt_model.sql:10``),
- ``{{ ref('model') }}`` resolution creating DAG edges
  (``models/example/my_second_dbt_model.sql:5``),
- ``models/example/schema.yml`` — ``unique`` / ``not_null`` column
  tests with dbt's semantics (NULLs exempt from ``unique``, only NULL is
  missing for ``not_null``), answered by one grouped aggregate per
  column (:func:`_unique_not_null_sql`). They do not go through the DQ
  engine: its uniqueness check counts NULL keys as a group and its
  completeness check treats ``''`` as missing.

Spark-native execution: render the template (regex mini-Jinja — the
reference uses only ``config``/``ref``), topo-sort on ref edges, then
per model ``spark.sql(rendered)`` and materialize:

- ``view``  → ``createOrReplaceTempView`` (the dbt default,
  ``dbt_project.yml:36``)
- ``table`` → parquet write + re-register (CTAS equivalent)
- ``incremental`` → dynamic partition-overwrite parquet write keyed on
  ``partition_by`` (the Spark analog of dbt incremental models /
  BigQuery MERGE by partition): only partitions present in the new run
  are replaced, so a daily run rewrites one ``fecha`` partition of a
  100 TB table, not the table.
- ``merge`` → keyed upsert (dbt's incremental ``unique_key``
  strategy): batch rows replace same-key rows, everything else
  survives; anti-join + union + atomic snapshot swap (the seam where
  Delta/Iceberg MERGE INTO plugs in).
- ``snapshot`` → SCD2 (dbt snapshot, timestamp strategy): newer
  ``updated_at`` closes the open version and opens a new one; source
  batches dedup to latest-per-key; replay is a no-op.
- ``ephemeral`` → never materialized: the rendered SQL inlines as a
  subquery wherever downstream models ``ref()`` it.

Models are *data* (name → SQL text), so the engine can load them from a
directory of ``.sql`` files exactly like dbt's ``models/`` tree.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from contextlib import contextmanager
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import ARTIFACTS_DIR, REPO_ROOT
from ..sources import register_all
from .spec import QuerySpec

_CONFIG_RE = re.compile(r"\{\{\s*config\s*\((.*?)\)\s*\}\}", re.DOTALL)
_REF_RE = re.compile(r"\{\{\s*ref\s*\(\s*['\"]([A-Za-z0-9_]+)['\"]\s*\)\s*\}\}")
_KWARG_RE = re.compile(r"(\w+)\s*=\s*['\"]?([A-Za-z0-9_,\- ]+)['\"]?")
_MACRO_DEF_RE = re.compile(
    r"\{%-?\s*macro\s+(\w+)\s*\(([^)]*)\)\s*-?%\}(.*?)\{%-?\s*endmacro\s*-?%\}",
    re.DOTALL,
)
#: ``{{ source('src', 'table') }}`` — dbt's raw-table declaration layer
#: (the reference's raw namespace: tests/example_templates.yaml:3 reads
#: `your-team-project.raw.transactions` by literal name; real dbt
#: projects wrap those in source() + sources.yml)
_SOURCE_RE = re.compile(
    r"\{\{\s*source\s*\(\s*['\"](\w+)['\"]\s*,\s*['\"](\w+)['\"]\s*\)\s*\}\}"
)
#: ``{{ this }}`` — the model's own target relation (dbt incremental
#: models read their prior state through it)
_THIS_RE = re.compile(r"\{\{\s*this\s*\}\}")
#: ``{% if is_incremental() %} ... {% endif %}`` — the standard dbt
#: incremental guard: the block renders only when the model is
#: incremental-like, its target already exists, and the run is not a
#: full refresh
_IS_INCR_RE = re.compile(
    r"\{%-?\s*if\s+is_incremental\s*\(\s*\)\s*-?%\}(.*?)"
    r"\{%-?\s*endif\s*-?%\}",
    re.DOTALL,
)

#: materializations whose target carries state across runs — the ones
#: for which is_incremental() can be true
_STATEFUL_MATS = ("incremental", "merge", "snapshot")


def _recover_swap(path: str) -> None:
    """Make ``path`` a complete snapshot after a crashed ``_swap_in``.

    Deterministic from what survives on disk (every intermediate state
    of the swap protocol maps to exactly one rule):

    * ``path`` exists → the last swap completed (or none ran); any
      ``__staging``/``__old`` leftovers are stale — drop them.
    * ``path`` missing, ``__staging`` complete (``_SUCCESS`` marker,
      written by Spark's output committer only after every task
      committed) → the crash hit between the two renames; the staged
      snapshot is the full intended state — roll FORWARD.
    * otherwise → the staging write itself died; drop the partial
      staging and roll BACK to ``__old`` if present.
    """

    staging, old = f"{path}__staging", f"{path}__old"
    if os.path.exists(path):
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        return
    if os.path.exists(os.path.join(staging, "_SUCCESS")):
        os.rename(staging, path)
        shutil.rmtree(old, ignore_errors=True)
        return
    shutil.rmtree(staging, ignore_errors=True)
    if os.path.exists(old):
        os.rename(old, path)


def _swap_in(path: str, staging: str) -> None:
    """Replace directory ``path`` with the complete snapshot at
    ``staging`` with NO data-loss window.

    The naive ``rmtree(path); rename(staging, path)`` has a crash
    window in which the table is simply GONE — and worse, a merge
    model's next run would see no prior state and silently treat its
    batch as the full table. Instead: park the current snapshot at
    ``__old``, promote staging, then drop ``__old``. Every crash
    point leaves a state ``_recover_swap`` repairs losslessly (the
    parked snapshot or the ``_SUCCESS``-marked staging always exists).
    On HDFS/S3A the same protocol holds (dir rename is atomic on HDFS;
    on S3 this seam is where a transactional table format plugs in).
    """

    old = f"{path}__old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


#: stale-lock TTL: a crashed holder's lock is broken after this long.
#: Generous vs any real merge batch at test scale; at production scale
#: set it above the longest expected materialization.
_LOCK_TTL_S = 600.0


@contextmanager
def _table_lock(path: str, ttl_s: float = _LOCK_TTL_S):
    """Serialize stateful materializations (merge/snapshot) per table.

    Two CONCURRENT merge runs on the same table are a lost-update race
    even with the crash-safe swap: both would read the same prior
    state, both would write the same fixed ``__staging`` path, and the
    survivor would contain one batch's rows torn across the other's
    files (VERDICT r8 item 5). dbt serializes per-model within a run;
    across processes this lock supplies the same guarantee: the whole
    read-prior-state -> stage -> swap span runs under an exclusive
    per-table lock directory (``os.mkdir`` is atomic on every local/
    NFS/HDFS-like filesystem we target), so interleaved runs collapse
    to one of the two serial orders — never a mix. A crashed holder's
    lock is age-broken (TTL) and the next run's ``_recover_swap``
    repairs whatever the crash left.
    """
    import time

    lock = f"{path}__lock"
    breaker = f"{lock}.breaker"
    parent = os.path.dirname(lock)
    if parent:
        os.makedirs(parent, exist_ok=True)
    while True:
        try:
            os.mkdir(lock)
            break
        except FileExistsError:
            try:
                if time.time() - os.stat(lock).st_mtime > ttl_s:
                    # Stale: holder crashed. Breaking must be SERIAL —
                    # the r10/r11 protocol renamed on a staleness
                    # verdict from a stat taken before the rename, and
                    # when that verdict was invalidated in between
                    # (another waiter broke + re-acquired) it stole the
                    # FRESH lock and "gave it back" through a window in
                    # which the slot stood empty, so a third waiter's
                    # mkdir could win while the robbed holder still ran:
                    # two live holders (caught by
                    # test_table_lock_stale_break_single_winner, r12).
                    # Now at most one breaker is active (a breaker
                    # mutex dir, itself age-broken if its owner
                    # crashes), and staleness is RE-JUDGED inside the
                    # exclusive section: a stale dir can only be
                    # removed by a breaker, breakers are serialized,
                    # and a live holder's dir is always fresh (TTL >>
                    # max hold time), so a stale verdict inside the
                    # section cannot be invalidated before the rename.
                    try:
                        os.mkdir(breaker)
                    except FileExistsError:
                        try:
                            # crashed breaker: its section is tiny, so
                            # an over-TTL breaker dir is a corpse
                            if time.time() - os.stat(breaker).st_mtime > ttl_s:
                                os.rmdir(breaker)
                        except OSError:
                            pass
                        time.sleep(0.05)
                        continue
                    try:
                        if time.time() - os.stat(lock).st_mtime > ttl_s:
                            tomb = (
                                f"{lock}.stale."
                                f"{os.getpid()}.{time.monotonic_ns()}"
                            )
                            os.rename(lock, tomb)
                            # belt-and-braces (rename preserves mtime):
                            # if the renamed dir is somehow fresh —
                            # reachable only through a double failure
                            # (crashed breaker + TOCTOU on ITS removal
                            # admitting two breakers) — restore it
                            if time.time() - os.stat(tomb).st_mtime <= ttl_s:
                                try:
                                    if not os.path.exists(lock):
                                        os.rename(tomb, lock)
                                    else:
                                        os.rmdir(tomb)
                                except OSError:
                                    pass
                            else:
                                os.rmdir(tomb)
                    except OSError:
                        pass  # holder released / slot vanished: retry
                    finally:
                        try:
                            os.rmdir(breaker)
                        except OSError:
                            pass
                    continue
            except OSError:
                continue  # holder released / another breaker won
            time.sleep(0.05)
    try:
        yield
    finally:
        try:
            os.rmdir(lock)
        except OSError:
            pass


def _merge_rows(
    name: str, batch: DataFrame, prior: DataFrame | None, cfg: dict
) -> DataFrame:
    """dbt's incremental ``unique_key`` strategy: rows in this batch
    REPLACE prior rows with the same key, all other prior rows survive
    (anti-join + union; :meth:`ModelGraph._publish` swaps it in)."""
    key = cfg.get("unique_key")
    if not key:
        raise ValueError(f"merge model {name} needs unique_key")
    if prior is None:
        return batch
    keys = [k.strip() for k in key.split(",")]
    # the batch is consumed TWICE — once to build the broadcast
    # anti-join key set, once in the union. A lazy persist() is NOT
    # enough: inside the one write action the broadcast-build thread
    # and the union both race the cache fill and each recompute the
    # full batch aggregate from the source scan (measured r12: the
    # 16-task scan+agg ran 3x per batch, 5 jobs). An EAGER
    # localCheckpoint runs the aggregate exactly once and cuts the
    # lineage, so both consumers read the checkpointed blocks (guide
    # §5; same device the incremental self-ref path uses). The batch
    # is one run's output slice, small by construction; blocks are
    # freed by the context cleaner when the handle drops.
    batch = batch.localCheckpoint(eager=True)
    # no .distinct() on the key set: left_anti drops a row if ANY
    # build-side match exists, so duplicate keys cannot change the
    # result — the distinct only shrank the broadcast, at the price of
    # a 2-job shuffle over the checkpointed batch. dbt's merge contract
    # has ~1 row per unique_key per batch, so the broadcast is the same
    # size without it. No forced-broadcast hint: the planner/AQE picks
    # BHJ when the key projection fits (verified) and may demote to a
    # shuffled join for a batch too big to broadcast safely at scale.
    survivors = prior.join(batch.select(*keys), on=keys, how="left_anti")
    return survivors.unionByName(batch)


def _snapshot_rows(
    name: str, batch: DataFrame, prior: DataFrame | None, cfg: dict
) -> DataFrame:
    """dbt snapshot, timestamp strategy (SCD2).

    The reference declares snapshots/ (dbt_project.yml:19) but ships
    none — this supplies the materialization. A source row whose
    ``updated_at`` is newer than the open version's closes it
    (``valid_to`` = new ``updated_at``) and opens a new version;
    replaying a batch is a no-op (equal ``updated_at`` is not newer).
    """
    from pyspark.sql.window import Window

    key = cfg.get("unique_key")
    updated = cfg.get("updated_at")
    if not key or not updated:
        raise ValueError(
            f"snapshot model {name} needs unique_key + updated_at"
        )
    # dbt snapshot semantics assume one row per unique_key per batch; a
    # batch carrying several versions of a key would open multiple
    # valid_to-NULL rows and double-close the prior version on the next
    # run. Keep only the latest updated_at per key (window, one shuffle
    # on the key — same key the joins below shuffle on anyway). Ties on
    # (key, updated_at) with DIFFERENT payloads would otherwise pick an
    # arbitrary survivor (dbt errors on such batches); a stable hash of
    # the remaining columns makes the survivor deterministic across
    # runs and partitionings.
    payload = [c for c in batch.columns if c not in (key, updated)]
    rn = F.row_number().over(
        Window.partitionBy(key).orderBy(
            F.col(updated).desc(),
            *([F.xxhash64(*payload).desc()] if payload else []),
        )
    )
    batch = (
        batch.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")
    )
    src = batch.withColumn("valid_from", F.col(updated)).withColumn(
        "valid_to", F.lit(None).cast(batch.schema[updated].dataType)
    )
    if prior is None:
        return src
    is_open = F.col("valid_to").isNull()
    closed = prior.filter(~is_open)
    opened = prior.filter(is_open)
    newer = src.select(
        F.col(key).alias("__k"), F.col(updated).alias("__new_upd")
    )
    joined = opened.join(newer, opened[key] == F.col("__k"), "left")
    still_open = joined.filter(
        F.col("__new_upd").isNull() | (F.col("__new_upd") <= F.col(updated))
    ).select(*prior.columns)
    now_closed = (
        joined.filter(F.col("__new_upd") > F.col(updated))
        .withColumn("valid_to", F.col("__new_upd"))
        .select(*prior.columns)
    )
    # new versions: keys that closed a row or are new
    prior_upd = opened.select(
        F.col(key).alias("__pk"), F.col(updated).alias("__prior_upd")
    )
    fresh = (
        src.join(prior_upd, src[key] == F.col("__pk"), "left")
        .filter(
            F.col("__prior_upd").isNull()
            | (F.col(updated) > F.col("__prior_upd"))
        )
        .select(*src.columns)
    )
    return (
        closed.unionByName(still_open)
        .unionByName(now_closed)
        .unionByName(fresh)
    )


def _seed_reader(spark):
    """CSV reader with RFC-4180 semantics for seed files (wave 7):
    Spark's defaults break quoted fields containing newlines (each
    physical line becomes a record without ``multiLine``) and mangle
    doubled-quote escapes (default escape is backslash), while DuckDB
    — and dbt's own seed loader — parse both correctly; a seed row
    like ``"United\nStates"`` silently became two torn rows."""
    return (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
    )


#: underscore-prefixed => invisible to parquet file discovery, so the
#: stub never pollutes partition inference or row reads
_SCHEMA_STUB = "_graft_schema.json"

#: per-write option dropping the _SUCCESS marker where nothing reads
#: it (plain table / seed / incremental-partition writes) — the
#: marker write is ~25 ms of job-commit time per write here. The
#: staged-swap writes (merge/snapshot staging, registry.stage_artifact) KEEP
#: the marker: ``_recover_swap``/``stage_artifact`` gate promotion on it.
_NO_SUCCESS = {"mapreduce.fileoutputcommitter.marksuccessfuljobs": "false"}


def _write_schema_stub(path: str, df) -> None:
    """Record the table's schema beside its files (wave 7): a
    PARTITIONED write of an EMPTY batch produces zero data files, and
    the read-back dies with UNABLE_TO_INFER_SCHEMA — bricking a table
    whose very first incremental batch happens to be empty (a late-
    data window with nothing late is routine at scale). The stub is
    the minimum of what a real catalog/metastore records per table;
    on Delta/Iceberg the table format itself carries this."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, _SCHEMA_STUB + ".tmp")
    with open(tmp, "w") as f:
        f.write(df.schema.json())
    os.replace(tmp, os.path.join(path, _SCHEMA_STUB))


def _as_nullable(dt):
    """Schema with every field/element nullable — the exact shape
    parquet footer INFERENCE yields (files can always hold nulls), so
    a stub-supplied schema is indistinguishable from an inferred one."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(dt.keyType, _as_nullable(dt.valueType), True)
    return dt


def read_table(spark, path: str):
    """``spark.read.parquet`` with the schema-stub fast path.

    When the table's schema stub exists (every materialization writes
    one), its schema is handed to the reader: this skips the per-read
    footer-inference JOB (~70-90 ms of driver+task round-trip per
    read at any scale — the metastore role a real catalog plays; a
    Hive/Glue-backed table never re-infers either). The stub schema is
    nullable-normalized to match what inference would return. A
    file-less (all-batches-empty) table reads as its declared schema
    with zero rows instead of raising: with an explicit schema the
    reader needs no inference, so the empty dir is simply an empty
    relation. Stub-less dirs (external layouts) still infer.
    """
    stub = os.path.join(path, _SCHEMA_STUB)
    schema = None
    if os.path.exists(stub):
        from pyspark.sql.types import StructType

        try:
            with open(stub) as f:
                schema = _as_nullable(
                    StructType.fromJson(json.loads(f.read()))
                )
        except (OSError, ValueError, KeyError):
            schema = None  # torn/garbled stub: fall back to inference
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def parse_macros(text: str) -> dict[str, tuple[list[str], str]]:
    """``{% macro name(a, b) %}body{% endmacro %}`` → name → (params,
    body). The reference declares ``macro-paths`` (dbt_project.yml:18)
    with an empty macros/ dir; this supplies the surface for the
    subset real starter projects use — positional text-substitution
    macros (no control flow, which the reference never introduces)."""
    out = {}
    for name, params, body in _MACRO_DEF_RE.findall(text):
        plist = [p.strip() for p in params.split(",") if p.strip()]
        out[name] = (plist, body.strip())
    return out


def _split_args_quote_aware(argtext: str) -> list[str]:
    """Split a macro-call argument list on commas OUTSIDE string
    literals (ADVICE r6: a bare ``split(',')`` fragments
    ``inner('a, b')`` into pieces that no longer parse as literals,
    defeating the literal protection). Tracks ''/"" quote state with
    SQL-style doubled-quote escapes; segments are returned verbatim
    (whitespace preserved) so a comma-join reassembles the original."""
    parts, buf, quote = [], [], None
    i, n = 0, len(argtext)
    while i < n:
        ch = argtext[i]
        if quote is None:
            if ch in "'\"":
                quote = ch
                buf.append(ch)
            elif ch == ",":
                parts.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
        else:
            buf.append(ch)
            if ch == quote:
                if i + 1 < n and argtext[i + 1] == quote:
                    buf.append(quote)
                    i += 1
                else:
                    quote = None
        i += 1
    parts.append("".join(buf))
    return parts


def expand_macros(
    sql: str, macros: dict[str, tuple[list[str], str]], max_depth: int = 10
) -> str:
    """Expand ``{{ name(arg, ...) }}`` call sites textually, like dbt
    renders macros at compile time. String-literal args drop their
    quotes (Jinja renders the VALUE); bare args pass through as text.
    Iterates so macros may call macros; depth-capped against cycles."""
    if not macros:
        return sql
    call_re = re.compile(
        r"\{\{\s*(" + "|".join(map(re.escape, macros)) + r")\s*\(([^)]*)\)\s*\}\}"
    )

    def sub(m: re.Match) -> str:
        name, argtext = m.group(1), m.group(2)
        params, body = macros[name]
        args = (
            [a.strip() for a in _split_args_quote_aware(argtext)]
            if argtext.strip()
            else []
        )
        vals = []
        for a in args:
            if len(a) >= 2 and a[0] == a[-1] and a[0] in "'\"":
                a = a[1:-1]
            vals.append(a)
        rendered = body
        for p, a in zip(params, vals):
            rendered = re.sub(
                r"\{\{\s*" + re.escape(p) + r"\s*\}\}", a, rendered
            )

        # params also flow into NESTED macro calls as bare identifiers
        # ({{ inner(p) }}): substitute them ONLY in the argument list
        # of calls to known macros — never in other {{ ... }}
        # expressions (a param named `x` must not rewrite
        # `{{ ref('x') }}`) and never inside string-literal arguments
        # (ADVICE r5). Argument split is quote-aware (ADVICE r6): a
        # comma inside '...'/"..." belongs to the literal, not the
        # arg list, so inner('a, b') stays ONE literal argument.
        def in_calls(m2: re.Match) -> str:
            seg = m2.group(0)
            call = re.match(
                r"\{\{\s*(\w+)\s*\((.*)\)\s*\}\}\Z", seg, re.DOTALL
            )
            if not call or call.group(1) not in macros:
                return seg
            inner, argtext = call.group(1), call.group(2)

            def sub_arg(arg: str) -> str:
                a = arg.strip()
                if len(a) >= 2 and a[0] == a[-1] and a[0] in "'\"":
                    return arg  # string literal: contents are TEXT
                for p, v in zip(params, vals):
                    arg = re.sub(r"\b" + re.escape(p) + r"\b", v, arg)
                return arg

            new_args = ",".join(
                sub_arg(a) for a in _split_args_quote_aware(argtext)
            )
            return "{{ " + inner + "(" + new_args + ") }}"

        return re.sub(r"\{\{[^}]+\}\}", in_calls, rendered)

    for _ in range(max_depth):
        new = call_re.sub(sub, sql)
        if new == sql:
            return new
        sql = new
    return sql


@dataclass
class Model:
    name: str
    raw_sql: str
    config: dict = field(default_factory=dict)

    @property
    def refs(self) -> list[str]:
        return _REF_RE.findall(self.raw_sql)

    def render(
        self, defaults: dict, resolve=None, source_resolve=None
    ) -> tuple[str, dict]:
        """Render config + refs + sources. ``resolve(name)`` maps a ref
        to its relation text — the seam where ephemeral models inline;
        ``source_resolve(src, table)`` maps a ``{{ source() }}`` call
        to its declared relation (left verbatim when absent, so
        config-only renders don't need a sources registry)."""
        cfg = dict(defaults)
        m = _CONFIG_RE.search(self.raw_sql)
        if m:
            cfg.update(dict(_KWARG_RE.findall(m.group(1))))
        sql = _CONFIG_RE.sub("", self.raw_sql)
        fn = resolve or (lambda n: n)
        sql = _REF_RE.sub(lambda mm: fn(mm.group(1)), sql)
        if source_resolve is not None:
            sql = _SOURCE_RE.sub(
                lambda mm: source_resolve(mm.group(1), mm.group(2)), sql
            )
        return sql.strip(), cfg


def _inliner(ephemeral: dict[str, str]):
    """ref() resolver: an ephemeral model's rendered SQL inlines as a
    parenthesized subquery; any other ref names its relation."""
    return lambda n: f"({ephemeral[n]})" if n in ephemeral else n


#: the fields of a walk record that ``build`` returns
_STATUS_KEYS = ("node", "kind", "status", "detail", "failures_table")


def _reported(rec: dict) -> bool:
    """Whether a walk record is a node ``build`` reports and ``run``
    returns: every error (a dependency seed's or an ephemeral's failure
    is the visible root cause of its dependents' skips), and otherwise
    the selected seeds, the non-ephemeral models and the tests."""
    return rec["status"] == "error" or (
        rec["kind"] != "seed (dependency)"
        and rec.get("config", {}).get("materialized") != "ephemeral"
    )


class ModelGraph:
    """Load, topo-sort, and materialize a set of SQL models.

    Also carries the rest of the dbt project surface the reference
    declares in ``dbt_project.yml``:

    - **seeds** (``seed-paths``, dbt_project.yml:17): csv files loaded
      as tables BEFORE any model runs (``dbt seed``); models ``ref()``
      them like any node. ``seeds`` maps name → csv path; an optional
      per-seed schema string pins column types (dbt's ``column_types``
      — without it both engines would lean on csv inference).
    - **compiled target/** (``target-path``, dbt_project.yml:22):
      ``run`` persists every model's rendered SQL (ephemerals
      included, matching ``dbt compile``) plus a manifest of resolved
      configs — the debugging artifact a dbt user greps first.
    - **clean** (``clean-targets``, dbt_project.yml:23-25): drops the
      target and warehouse dirs.
    """

    def __init__(
        self,
        models: dict[str, str],
        defaults: dict | None = None,
        warehouse_dir: str = os.path.join(ARTIFACTS_DIR, "warehouse"),
        seeds: dict[str, str] | None = None,
        seed_schemas: dict[str, str] | None = None,
        target_dir: str | None = None,
        dir_defaults: dict[str, dict] | None = None,
        model_dirs: dict[str, str] | None = None,
        macros: dict[str, tuple[list[str], str]] | None = None,
        analyses: dict[str, str] | None = None,
        sources: dict[str, dict[str, dict]] | None = None,
        hooks: dict[str, dict[str, list[str]]] | None = None,
    ):
        self.macros = dict(macros or {})
        self.models = {
            n: Model(n, expand_macros(sql, self.macros))
            for n, sql in models.items()
        }
        self.defaults = {"materialized": "view", **(defaults or {})}
        self.warehouse_dir = warehouse_dir
        self.seeds = dict(seeds or {})
        self.seed_schemas = dict(seed_schemas or {})
        self.target_dir = target_dir
        #: subdir path → config overrides (dbt_project.yml `models:`
        #: block, `+materialized:` style — leading '+' accepted)
        self.dir_defaults = {
            d: {k.lstrip("+"): v for k, v in cfg.items()}
            for d, cfg in (dir_defaults or {}).items()
        }
        #: model name → relative subdir ("" at model-paths root)
        self.model_dirs = dict(model_dirs or {})
        #: analyses (dbt analysis-paths): compiled to target/, NEVER run
        self.analyses = {
            n: expand_macros(sql, self.macros)
            for n, sql in (analyses or {}).items()
        }
        #: sources.yml: source name → table name → {identifier?,
        #: loaded_at_field?, freshness?: {warn_after/error_after:
        #: {count, period}}} — dbt's raw-table declaration layer;
        #: models reach these via {{ source('src', 'table') }}
        self.sources = dict(sources or {})
        #: dbt pre-/post-hooks, declared project-level like
        #: dbt_project.yml's `+pre-hook:`/`+post-hook:` blocks (the
        #: inline-config regex parser stays simple): model name →
        #: {"pre": [sql, ...], "post": [sql, ...]}. Each hook renders
        #: through the same ref()/source()/{{ this }} pipeline and runs
        #: via spark.sql immediately before/after materialization —
        #: the audit-insert / grant / ANALYZE seam.
        self.hooks = dict(hooks or {})

    @classmethod
    def from_dir(
        cls,
        path: str,
        seed_path: str | None = None,
        macro_path: str | None = None,
        analysis_path: str | None = None,
        **kw,
    ):
        """Load a dbt-project-shaped tree: ``models/**/*.sql`` (subdir
        recorded for per-directory config), ``seeds/*.csv``,
        ``macros/*.sql`` macro definitions, ``analyses/*.sql``."""
        models, model_dirs = {}, {}
        for root, _dirs, files in sorted(os.walk(path)):
            rel = os.path.relpath(root, path)
            rel = "" if rel == "." else rel
            for fn in sorted(files):
                if fn.endswith(".sql"):
                    with open(os.path.join(root, fn)) as f:
                        models[fn[:-4]] = f.read()
                    model_dirs[fn[:-4]] = rel
        seeds = {}
        if seed_path and os.path.isdir(seed_path):
            for fn in sorted(os.listdir(seed_path)):
                if fn.endswith(".csv"):
                    seeds[fn[:-4]] = os.path.join(seed_path, fn)
        macros: dict[str, tuple[list[str], str]] = {}
        if macro_path and os.path.isdir(macro_path):
            for fn in sorted(os.listdir(macro_path)):
                if fn.endswith(".sql"):
                    with open(os.path.join(macro_path, fn)) as f:
                        macros.update(parse_macros(f.read()))
        analyses = {}
        if analysis_path and os.path.isdir(analysis_path):
            for fn in sorted(os.listdir(analysis_path)):
                if fn.endswith(".sql"):
                    with open(os.path.join(analysis_path, fn)) as f:
                        analyses[fn[:-4]] = f.read()
        return cls(
            models,
            seeds=seeds,
            model_dirs=model_dirs,
            macros=macros,
            analyses=analyses,
            **kw,
        )

    def _defaults_for(self, name: str) -> dict:
        """Graph defaults layered with the LONGEST-prefix matching
        per-directory config — dbt's models-block resolution order
        (project default < directory < inline ``{{ config() }}``)."""
        cfg = dict(self.defaults)
        mdir = self.model_dirs.get(name, "")
        best = None
        for d in self.dir_defaults:
            if mdir == d or mdir.startswith(d + os.sep) or d == "":
                if best is None or len(d) > len(best):
                    best = d
        if best is not None:
            cfg.update(self.dir_defaults[best])
        return cfg

    def _config(self, name: str) -> dict:
        """A model's resolved config (graph < directory < inline),
        without rendering its refs or sources."""
        return self.models[name].render(self._defaults_for(name))[1]

    def _source_relation(self, src: str, table: str) -> str:
        """Resolve ``{{ source('src', 'table') }}`` to its relation.

        dbt semantics: the declared ``identifier`` (defaulting to the
        table name) names the physical relation. An undeclared source
        is a compile error, like dbt's."""
        try:
            cfg = self.sources[src][table]
        except KeyError:
            raise KeyError(
                f"source('{src}', '{table}') is not declared in "
                "sources (sources.yml)"
            ) from None
        return cfg.get("identifier", table)

    def _render_node(
        self, name: str, resolve, full_refresh: bool = False
    ) -> tuple[str, bool]:
        """Full render of one model: config + ref()/source() + the
        ``{% if is_incremental() %}`` guard + ``{{ this }}``.

        is_incremental() is true iff the materialization carries state
        (incremental/merge/snapshot), the target already exists, and
        the run is not a full refresh — dbt's exact rule. Returns
        (sql, incremental_active)."""
        sql, cfg = self.models[name].render(
            self._defaults_for(name), resolve, self._source_relation
        )
        mat = cfg.get("materialized", "view")
        exists = os.path.exists(f"{self.warehouse_dir}/{name}")
        active = (
            mat in _STATEFUL_MATS and exists and not full_refresh
        )
        sql = _IS_INCR_RE.sub(
            lambda m: m.group(1) if active else " ", sql
        )
        sql = _THIS_RE.sub(name, sql)
        return sql.strip(), active

    @staticmethod
    def _freshness_hours(spec: dict | None) -> float | None:
        """dbt freshness spec {count, period} → hours."""
        if not spec:
            return None
        per = {"minute": 1 / 60, "hour": 1.0, "day": 24.0}[
            spec.get("period", "hour")
        ]
        return float(spec["count"]) * per

    #: footer-walk cap (ADVICE r11): the fast path opens every backing
    #: file's footer serially on the driver — O(files) metadata I/O
    #: that beats one batched scan job at warehouse file counts (the
    #: staged registry layouts are ≤16 files) but would LOSE to the
    #: scan at 100 TB file censuses (10^4-10^6 files, likely remote).
    #: Past the cap the grader falls back into the batched
    #: scalar-subquery SELECT, whose cost is one distributed job
    #: regardless of file count.
    _FOOTER_WALK_MAX_FILES = 64

    #: bare attribute reference in an analyzed-plan Project list
    _ATTR_RX = re.compile(r"^\w+#\d+[A-Za-z]?$")
    #: the registry's documented nanos rebuild (sources/registry.py):
    #: cast(timestamp_micros((ts#1L div cast(1000 as bigint))) as
    #: timestamp_ntz) AS ts#9 — the ONLY row transform the footer path
    #: may see, because its nanos→micros floor compensates exactly
    _TS_REBUILD_RX = re.compile(
        r"^cast\(timestamp_micros\(\((\w+)#\d+L? div "
        r"(?:cast\()?1000(?: as bigint\))?\)\) as timestamp_ntz\) "
        r"AS (\w+)#\d+$"
    )

    @classmethod
    def _bare_scan_info(cls, spark: SparkSession, rel: str, la: str):
        """Prove ``rel`` resolves to a bare parquet scan (ADVICE r11).

        The footer fast path reads the RAW FILES behind ``rel``; any
        view that filters or row-transforms them (keeping the column
        name) would silently grade the unfiltered files' MAX. Walk the
        ANALYZED plan: only SubqueryAlias / View / Relation / Project
        nodes are allowed, and every Project expression must be a bare
        attribute — except the registry's nanos-rebuild of ``la``
        itself, which the footer path compensates for (floor is
        monotone). Returns ``(True, la_rebuilt)`` when provably bare,
        ``None`` otherwise (caller scans).
        """
        try:
            tree = (
                spark.table(rel)._jdf.queryExecution().analyzed().treeString()
            )
        except Exception:
            return None
        rebuilt = False
        for raw in tree.splitlines():
            node = raw.lstrip(" +-:")
            if not node:
                continue
            head = node.split(" ", 1)[0].split("[", 1)[0]
            if head in ("SubqueryAlias", "View", "Relation",
                        "LogicalRelation"):
                continue
            if head != "Project":
                return None  # Filter/Join/Aggregate/...: scan
            try:
                body = node[node.index("[") + 1: node.rindex("]")]
            except ValueError:
                return None
            parts, depth, buf = [], 0, []
            for ch in body:
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                if ch == "," and depth == 0:
                    parts.append("".join(buf).strip())
                    buf = []
                else:
                    buf.append(ch)
            parts.append("".join(buf).strip())
            for p in parts:
                if cls._ATTR_RX.match(p):
                    continue
                m = cls._TS_REBUILD_RX.match(p)
                if m and m.group(1) == m.group(2):
                    if m.group(2) == la:
                        rebuilt = True
                    continue
                return None  # rename/expression/truncated list: scan
        return (True, rebuilt)

    @classmethod
    def _parquet_stats_max(cls, spark: SparkSession, rel: str, la: str):
        """``MAX(la)`` from parquet FOOTER column statistics — the
        guide-§6 aggregate-pushdown answer for the freshness grader,
        without flipping the whole engine onto the V2 scan path (which
        would churn every audited plan for one spec). Exactly the
        metadata Spark's own ``spark.sql.parquet.aggregatePushdown``
        and DuckDB's zone-map MAX trust.

        Guards (each failure falls back to the batched scan):
        ``rel`` must analyze to a BARE parquet scan (no Filter, no
        non-identity Project — see :meth:`_bare_scan_info`); at most
        ``_FOOTER_WALK_MAX_FILES`` local files; only DATE(INT32)/
        TIMESTAMP(INT64) columns qualify (string min/max may be
        writer-truncated); instant (isAdjustedToUTC) timestamps are
        declined — the scan path renders them through the session
        timezone, which only provably matches the footer's naive-UTC
        epoch under a UTC session, so the cheap safe answer is to
        scan; every data file and row group must carry exact stats; an
        all-NULL row group contributes nothing (same as MAX); a
        raw-nanos column floors to micros IFF the view performs the
        registry's ``timestamp_micros(ts DIV 1000)`` rebuild (floor is
        monotone, so max-of-floors = floor-of-max). Returns
        ``(True, value)`` — ``value`` is ``None`` for an all-null/
        empty source, graded ``error`` just like a scanned NULL MAX —
        or ``None`` when the footers cannot prove the answer and the
        caller must scan.
        """
        import json as _json

        from datetime import date as _date
        from datetime import datetime as _dt
        from datetime import timedelta as _td

        import pyarrow.parquet as pq

        info = cls._bare_scan_info(spark, rel, la)
        if info is None:
            return None
        _, la_rebuilt = info
        try:
            files = [
                f.removeprefix("file:")
                for f in spark.table(rel).inputFiles()
            ]
        except Exception:
            return None
        if not files or len(files) > cls._FOOTER_WALK_MAX_FILES:
            return None
        kind0: str | None = None
        best: int | None = None  # micros (timestamp) or days (date)
        for path in files:
            try:
                md = pq.ParquetFile(path).metadata
            except Exception:
                return None
            sch = md.schema
            try:
                idx = sch.names.index(la)
            except ValueError:
                return None  # nested/renamed/expression: Spark scans
            col = sch.column(idx)
            lt = _json.loads(col.logical_type.to_json())
            if lt["Type"] == "Date" and col.physical_type == "INT32":
                if la_rebuilt:
                    return None  # rebuild over non-nanos: scan
                kind, to_us = "date", None
            elif (
                lt["Type"] == "Timestamp"
                and col.physical_type == "INT64"
            ):
                if lt.get("isAdjustedToUTC"):
                    return None  # instant semantics: scan (see above)
                kind = "ts"
                unit = lt.get("timeUnit", "")
                # nanos files surface through the registry's rebuild
                # (raw nanos read as bigint otherwise — a bigint MAX
                # the footer's datetime answer would NOT match);
                # micros/millis files must be identity-projected
                if (unit == "nanoseconds") != la_rebuilt:
                    return None
                to_us = {
                    "nanoseconds": lambda v: v // 1000,
                    "microseconds": lambda v: v,
                    "milliseconds": lambda v: v * 1000,
                }.get(unit)
                if to_us is None:
                    return None
            else:
                return None
            if kind0 is None:
                kind0 = kind
            elif kind0 != kind:
                return None  # mixed layouts across files: scan
            for g in range(md.num_row_groups):
                cmd = md.row_group(g).column(idx)
                st = cmd.statistics
                if st is None:
                    return None
                if not st.has_min_max:
                    if st.null_count == cmd.num_values:
                        continue  # all-NULL group: nothing to add
                    return None
                raw = st.max_raw
                if kind == "ts":
                    raw = to_us(raw)
                if best is None or raw > best:
                    best = raw
        if best is None:
            return (True, None)
        if kind0 == "date":
            return (True, _date(1970, 1, 1) + _td(days=best))
        return (True, _dt(1970, 1, 1) + _td(microseconds=best))

    def source_freshness(
        self, spark: SparkSession, now: str
    ) -> list[dict]:
        """``dbt source freshness``: grade every source table that
        declares ``loaded_at_field`` + ``freshness`` thresholds.

        ONE batched scalar-subquery SELECT computes every table's
        ``max(loaded_at_field)`` in a single driver action (same
        batching rule as ``_run_schema_tests``); each MAX is a full-
        scan-free parquet-footer-friendly aggregate at any scale.
        ``now`` is an ISO timestamp literal (injectable for
        deterministic tests, like dbt's ``--vars``). Statuses follow
        dbt: age > error_after → ``error``, > warn_after → ``warn``,
        else ``pass``. Returns one dict per graded table.
        """
        from datetime import date, datetime, timedelta

        checks: list[tuple] = []
        for sname, tables in sorted(self.sources.items()):
            for tname, cfg in sorted(tables.items()):
                la = cfg.get("loaded_at_field")
                fresh = cfg.get("freshness") or {}
                if not la or not fresh:
                    continue
                checks.append(
                    (
                        sname,
                        tname,
                        cfg.get("identifier", tname),
                        la,
                        self._freshness_hours(fresh.get("warn_after")),
                        self._freshness_hours(fresh.get("error_after")),
                    )
                )
        if not checks:
            return []
        # footer-stats fast path first (guide §6): checks whose MAX is
        # provable from parquet column statistics skip the scan; only
        # the remainder goes into the batched scalar-subquery SELECT
        # (still ONE driver action for all of them)
        vals: dict[int, object] = {}
        scan_idx = []
        for i, (_, _, rel, la, _, _) in enumerate(checks):
            got = self._parquet_stats_max(spark, rel, la)
            if got is None:
                scan_idx.append(i)
            else:
                vals[i] = got[1]
        if scan_idx:
            row = spark.sql(
                "SELECT "
                + ", ".join(
                    f"(SELECT MAX({checks[i][3]}) FROM {checks[i][2]})"
                    f" AS m{i}"
                    for i in scan_idx
                )
            ).collect()[0]
            for i in scan_idx:
                vals[i] = row[f"m{i}"]
        now_dt = datetime.fromisoformat(now)
        out = []
        for i, (sname, tname, _rel, _la, warn_h, err_h) in enumerate(
            checks
        ):
            m = vals[i]
            if isinstance(m, date) and not isinstance(m, datetime):
                m = datetime(m.year, m.month, m.day)
            status = "pass"
            if m is None:
                status = "error"  # empty source: dbt errors
            elif err_h is not None and now_dt - m > timedelta(
                hours=err_h
            ):
                status = "error"
            elif warn_h is not None and now_dt - m > timedelta(
                hours=warn_h
            ):
                status = "warn"
            out.append(
                {
                    "source": sname,
                    "table": tname,
                    "max_loaded_at": None if m is None else m.isoformat(),
                    "status": status,
                }
            )
        return out

    def seed(
        self, spark: SparkSession, names: set[str] | None = None
    ) -> dict[str, DataFrame]:
        """``dbt seed``: load every csv seed as a warehouse table.

        One executor-parallel csv read per seed (seeds are small by
        dbt convention — reference data, not facts), written to
        parquet in the warehouse dir and registered so models can
        ``ref()`` them. Returns name → DataFrame. ``names`` narrows to
        a selected subset (dbt --select covers seed nodes).
        """
        return {
            name: self._load_seed(spark, name)
            for name in sorted(self.seeds)
            if names is None or name in names
        }

    def _load_seed(self, spark: SparkSession, name: str) -> DataFrame:
        """Load one csv seed and publish it like a ``table`` model.

        Column types come from ``seed_schemas`` (dbt's
        ``column_types``), else from csv inference."""
        schema = self.seed_schemas.get(name)
        reader = _seed_reader(spark)
        if schema:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", "true")
        return self._publish(spark, name, reader.csv(self.seeds[name]), {})

    def _seeds_for(self, selected: set[str]) -> set[str]:
        """Seeds that must be LOADED for this selection: the selected
        seed nodes plus the direct seed dependencies of every selected
        model (ADVICE r6: ``--select model_x`` where model_x refs a
        seed must not fail in a fresh session just because the seed
        node itself wasn't selected — dbt can assume a persistent
        warehouse; this engine's temp views are per-session).

        Walks refs TRANSITIVELY through ephemeral ancestors (ADVICE
        r7): an ephemeral model always renders and inlines its SQL
        into its consumers, so a seed it refs is referenced by the
        selected model's final text one hop removed — it must be
        loaded even though the selected model never refs it directly.
        Non-ephemeral ancestors stop the walk: their relations must
        already exist per run()'s contract, seeds included."""
        needed = {s for s in self.seeds if s in selected}
        stack = [n for n in selected if n in self.models]
        seen = set(stack)
        while stack:
            for r in self.models[stack.pop()].refs:
                if r in self.seeds:
                    needed.add(r)
                elif (
                    r in self.models
                    and r not in seen
                    and self._config(r)["materialized"] == "ephemeral"
                ):
                    seen.add(r)
                    stack.append(r)
        return needed

    def clean(self) -> None:
        """``dbt clean``: drop the target and warehouse artifacts."""
        for d in (self.target_dir, self.warehouse_dir):
            if d:
                shutil.rmtree(d, ignore_errors=True)

    def _write_compiled(self, records: list[dict]) -> None:
        """Persist rendered SQL + resolved configs (``dbt compile``):
        every model the walk rendered lands in compiled/; analyses,
        rendered with the same ref()/ephemeral inlining and never run,
        in compiled/analyses/."""
        if not self.target_dir:
            return
        compiled = [r for r in records if r.get("compiled_sql") is not None]
        ephemeral = [r for r in compiled if r["config"]["materialized"] == "ephemeral"]
        resolve = _inliner({r["node"]: r["compiled_sql"] for r in ephemeral})
        # (manifest key, path under compiled/, sql, config, refs)
        entries = [
            (r["node"], f"{r['node']}.sql", r["compiled_sql"], r["config"],
             self.models[r["node"]].refs)
            for r in compiled
        ]
        for name, raw in self.analyses.items():
            sql, _ = Model(name, raw).render(
                self._defaults_for(name), resolve, self._source_relation
            )
            entries.append((f"analysis:{name}", f"analyses/{name}.sql", sql,
                            {"materialized": "analysis"}, _REF_RE.findall(raw)))
        cdir = os.path.join(self.target_dir, "compiled")
        os.makedirs(
            os.path.join(cdir, "analyses") if self.analyses else cdir,
            exist_ok=True,
        )
        manifest = {}
        for key, rel, sql, cfg, refs in entries:
            with open(os.path.join(cdir, rel), "w") as f:
                f.write(sql + "\n")
            manifest[key] = {
                "config": cfg, "refs": refs, "compiled_path": f"compiled/{rel}"
            }
        with open(os.path.join(self.target_dir, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)

    def topo_order(self) -> list[str]:
        ts = TopologicalSorter(
            {n: [r for r in m.refs if r in self.models] for n, m in self.models.items()}
        )
        return list(ts.static_order())

    def _edges(self) -> dict[str, list[str]]:
        """name → upstream refs within this graph, seeds included:
        seeds are selectable leaf nodes (dbt's --select filters seed
        nodes too — ADVICE r5), so the selector graph must carry
        model→seed edges and the seeds themselves."""
        edges = {
            n: [
                r
                for r in m.refs
                if r in self.models or r in self.seeds
            ]
            for n, m in self.models.items()
        }
        for s in self.seeds:
            edges.setdefault(s, [])
        return edges

    def _node_tags(self, name: str) -> set[str]:
        tags = str(self._config(name).get("tags", ""))
        return set(tags.replace(",", " ").split())

    def select_nodes(
        self, select: str | None = None, exclude: str | None = None
    ) -> set[str]:
        """dbt node selection: ``dbt run --select ... --exclude ...``.

        Supported selector tokens (space-separated tokens union, like
        dbt): ``name`` (exact), ``name+`` (the node plus descendants),
        ``+name`` (the node plus ancestors), ``+name+`` (both), and
        ``tag:x`` (models whose ``{{ config(tags='...') }}`` carries
        the tag). ``exclude`` subtracts its own selection afterwards.
        Unknown names select nothing, matching dbt's warning-and-skip.
        Graph traversal is driver-side over the model DAG — node
        counts, not data, so scale is irrelevant here.
        """
        edges = self._edges()
        children: dict[str, set[str]] = {n: set() for n in edges}
        for n, ups in edges.items():
            for u in ups:
                children[u].add(n)

        def walk(start: str, nbrs: dict) -> set[str]:
            seen, stack = set(), [start]
            while stack:
                cur = stack.pop()
                if cur in seen:
                    continue
                seen.add(cur)
                stack.extend(nbrs.get(cur, ()))
            return seen

        def one(token: str) -> set[str]:
            if token.startswith("tag:"):
                tag = token[4:]
                return {
                    n for n in self.models if tag in self._node_tags(n)
                }
            anc = token.startswith("+")
            desc = token.endswith("+")
            name = token.strip("+")
            if name not in self.models and name not in self.seeds:
                return set()
            picked = {name}
            if anc:
                picked |= walk(name, {n: set(u) for n, u in edges.items()})
            if desc:
                picked |= walk(name, children)
            return picked

        def parse(spec: str | None) -> set[str]:
            if not spec:
                return set()
            out: set[str] = set()
            for token in spec.split():
                out |= one(token)
            return out

        selected = (
            parse(select)
            if select
            else set(self.models) | set(self.seeds)
        )
        return selected - parse(exclude)

    def _walk(
        self,
        spark: SparkSession,
        select: str | None = None,
        exclude: str | None = None,
        full_refresh: bool = False,
        schema_tests: dict | None = None,
        store_failures: bool = False,
    ) -> list[dict]:
        """The one DAG pass behind ``run``, ``build`` and the docs.

        Visits the seeds the selection needs (:meth:`_seeds_for`), then
        every model in :meth:`topo_order`. Each model renders once:
        an ephemeral one is never executed, its SQL inlines as a
        subquery wherever a descendant ``ref()``s it (topo order puts
        the text in place before any consumer renders), so ephemerals
        render whether or not they are selected. A selected model is
        materialized, and its ``schema_tests`` (if the caller passed
        any) run right after it succeeds. A node whose load, render or
        materialization raises is recorded as ``error``; every node
        downstream of an ``error`` or ``skipped`` node is ``skipped``
        and independent nodes still run — dbt's failure isolation.

        Returns one record per visited node, in execution order:
        ``node``, ``kind`` (``seed``, ``seed (dependency)``, ``model``,
        ``test``), ``status`` (success|error|skipped, pass|fail for
        tests) and ``detail``; seed and model records also carry the
        resolved ``config``, the ``compiled_sql`` (models that
        rendered), the materialized ``df`` and the raised ``error``.
        :func:`_reported` tells the records ``build`` reports.
        """
        selected = self.select_nodes(select, exclude)
        edges = self._edges()
        ephemeral: dict[str, str] = {}
        resolve = _inliner(ephemeral)
        failed: set[str] = set()
        records: list[dict] = []
        nodes = [(n, "seed") for n in sorted(self._seeds_for(selected))]
        for name, kind in nodes + [(n, "model") for n in self.topo_order()]:
            cfg = {"materialized": "seed"}
            if kind == "model":
                cfg = self._config(name)
            if name not in selected and kind == "seed":
                kind = "seed (dependency)"
            elif name not in selected and cfg["materialized"] != "ephemeral":
                continue
            rec = {"node": name, "kind": kind, "status": "success",
                   "detail": None, "config": cfg, "compiled_sql": None,
                   "df": None, "error": None}
            records.append(rec)
            upstream_failed = sorted(set(edges[name]) & failed)
            try:
                if upstream_failed:
                    rec["status"] = "skipped"
                    rec["detail"] = f"upstream failed: {upstream_failed}"
                elif kind != "model":
                    rec["df"] = self._load_seed(spark, name)
                else:
                    sql, active = self._render_node(name, resolve, full_refresh)
                    rec["compiled_sql"] = sql
                    if cfg["materialized"] == "ephemeral":
                        ephemeral[name] = sql
                    else:
                        rec["df"] = self._materialize(
                            spark, name, sql, cfg, active, full_refresh
                        )
            except Exception as exc:  # noqa: BLE001 - per-node isolation
                rec.update(status="error", detail=str(exc)[:300], error=exc)
            if rec["status"] != "success":
                failed.add(name)
            elif kind == "model" and rec["df"] is not None and schema_tests:
                records += self._run_schema_tests(
                    spark, name, schema_tests.get(name, {}), store_failures
                )
        return records

    def run(
        self,
        spark: SparkSession,
        select: str | None = None,
        exclude: str | None = None,
        full_refresh: bool = False,
    ) -> dict[str, DataFrame]:
        """``dbt run``: materialize every (selected) model in
        dependency order; returns name→DF.

        Ephemeral models (dbt's 4th materialization) are never
        executed or registered, and do not appear in the returned dict.

        ``select``/``exclude`` follow dbt selector syntax
        (``select_nodes``). Like dbt, only selected nodes RUN —
        non-ephemeral upstreams must already exist (built by a prior
        run or registered as sources); ephemeral ancestors of selected
        nodes always render so their text can inline.

        A node that raises does not stop the pass (:meth:`_walk`):
        its dependents are skipped and independent nodes still run.
        Then target/ is written and the first node's exception is
        raised again, like ``dbt run``'s non-zero exit.
        """
        return {
            r["node"]: r["df"]
            for r in self._run_records(spark, select, exclude, full_refresh)
            if r["df"] is not None and _reported(r)
        }

    def _run_records(
        self,
        spark: SparkSession,
        select: str | None = None,
        exclude: str | None = None,
        full_refresh: bool = False,
    ) -> list[dict]:
        """``run``'s walk records, after writing target/ and raising
        the first recorded node exception."""
        records = self._walk(spark, select, exclude, full_refresh)
        self._write_compiled(records)
        for r in records:
            if r["error"] is not None:
                raise r["error"]
        return records

    def build(
        self,
        spark: SparkSession,
        schema_tests: dict | None = None,
        select: str | None = None,
        exclude: str | None = None,
        store_failures: bool = False,
    ) -> list[dict]:
        """``dbt build``: seed → model → test in ONE DAG-ordered pass
        with per-node status and dbt's failure isolation — a node whose
        upstream errored is SKIPPED, siblings keep running.

        ``schema_tests``: {model: {column: ["unique", "not_null"]}}
        (schema.yml shape); each test runs right after its model
        materializes, like dbt build's interleaved test execution.
        Returns one status dict per reported node (:func:`_reported`):
        {"node", "kind", "status": success|error|skipped|pass|fail,
         "detail"}, plus "failures_table" for a stored failing test.
        """
        records = self._walk(
            spark, select, exclude,
            schema_tests=schema_tests, store_failures=store_failures,
        )
        return [
            {k: r[k] for k in _STATUS_KEYS if k in r}
            for r in records
            if _reported(r)
        ]

    def _materialize(
        self,
        spark,
        name,
        sql,
        cfg,
        incr_active: bool = False,
        full_refresh: bool = False,
    ) -> DataFrame:
        """Execute one rendered model and materialize per its config;
        returns the registered result DataFrame.

        When the incremental guard is active and the model reads its
        own target (a rendered ``{{ this }}``), the prior state is
        registered under the model's name and the batch is EAGERLY
        localCheckpoint'ed before the write — Spark refuses to
        overwrite a path its lazy plan still reads (on Delta/Iceberg
        MERGE INTO handles this transactionally and the checkpoint
        disappears). The checkpointed batch is the model's OUTPUT
        slice (one run's partitions), small by construction.
        """
        mat = cfg.get("materialized", "view")
        for hook in self.hooks.get(name, {}).get("pre", []):
            spark.sql(self._render_hook(name, hook))
        if full_refresh and mat in _STATEFUL_MATS:
            # dbt --full-refresh: drop and rebuild stateful targets
            shutil.rmtree(f"{self.warehouse_dir}/{name}", ignore_errors=True)
        self_ref = (
            incr_active
            and re.search(rf"\b{re.escape(name)}\b", sql) is not None
        )
        if self_ref:
            read_table(
                spark, f"{self.warehouse_dir}/{name}"
            ).createOrReplaceTempView(name)
        df = spark.sql(sql)
        if self_ref:
            df = df.localCheckpoint(eager=True)
        if mat == "view":
            df.createOrReplaceTempView(name)
        else:
            df = self._publish(spark, name, df, cfg)
        for hook in self.hooks.get(name, {}).get("post", []):
            spark.sql(self._render_hook(name, hook))
        return df

    def _publish(
        self, spark: SparkSession, name: str, df: DataFrame, cfg: dict
    ) -> DataFrame:
        """Land ``df`` as warehouse table ``name`` and register it.

        The one publish step of seeds (``cfg`` ``{}``) and of every
        on-disk materialization: write, record the schema stub beside
        the files, read back with :func:`read_table` (schema from the
        stub, not a footer-inference job) and register the temp view.

        - ``table`` (and a seed) overwrites the directory;
        - ``incremental`` overwrites only the partitions present in
          ``df`` (dynamic partition overwrite keyed on
          ``partition_by``);
        - ``merge`` and ``snapshot`` combine ``df`` with the prior
          state (:func:`_merge_rows`, :func:`_snapshot_rows`) into a
          complete staged snapshot and swap it in, all under the
          table lock (you cannot overwrite a parquet dir Spark is
          lazily reading from; on Delta/Iceberg this becomes a real
          MERGE INTO with key-pruned file scans).
        """
        mat = cfg.get("materialized", "table")
        path = f"{self.warehouse_dir}/{name}"
        if mat in ("merge", "snapshot"):
            combine = _merge_rows if mat == "merge" else _snapshot_rows
            with _table_lock(path):
                _recover_swap(path)
                prior = read_table(spark, path) if os.path.exists(path) else None
                df = combine(name, df, prior, cfg)
                staging = f"{path}__staging"
                df.write.mode("overwrite").parquet(staging)
                _swap_in(path, staging)
                _write_schema_stub(path, df)
        else:
            writer = df.write
            if mat == "incremental":
                part = cfg.get("partition_by")
                if not part:
                    raise ValueError(f"incremental model {name} needs partition_by")
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
                # repartition by the partition column first: otherwise
                # every shuffle partition writes a sliver into every
                # output partition (30 dirs x 8 files here) and commit
                # overhead dominates; one task per partition writes one
                # file. Same rule at cluster scale, plus a range/hash
                # split within hot partitions if one day >> executors.
                writer = df.repartition(F.col(part)).write.partitionBy(part)
            elif mat != "table":
                raise ValueError(f"unknown materialization {mat!r} for {name}")
            writer.options(**_NO_SUCCESS).mode("overwrite").parquet(path)
            _write_schema_stub(path, df)
        out = read_table(spark, path)
        out.createOrReplaceTempView(name)
        return out

    def _render_hook(self, name: str, sql: str) -> str:
        """Render a pre/post hook: macros, ref() (to relation names),
        source(), and {{ this }} (the hooked model itself)."""
        sql = expand_macros(sql, self.macros)
        sql = _REF_RE.sub(lambda m: m.group(1), sql)
        sql = _SOURCE_RE.sub(
            lambda m: self._source_relation(m.group(1), m.group(2)), sql
        )
        return _THIS_RE.sub(name, sql).strip()

    def _run_schema_tests(
        self,
        spark: SparkSession,
        name: str,
        cols: dict,
        store_failures: bool = False,
    ) -> list[dict]:
        """Run a model's schema.yml tests as ONE batched Spark action.

        Each test is a scalar violation count; batching them as scalar
        subqueries of a single SELECT means one driver round-trip per
        MODEL, not per test — at hundreds of models x several tests the
        sequential per-test ``collect()`` serializes on the driver
        (VERDICT r5 item 6; asserted single-action in
        tests/test_seeds_and_compile.py). An unknown test name records
        an ``error`` row and keeps going — per-node isolation covers
        test nodes too (ADVICE r5), instead of aborting the whole build.
        """
        queued: list[tuple[str, str, str]] = []  # (node, result expr, rows q)
        rels: list[str] = []  # one 1-row aggregate relation per column
        results: list[dict] = []
        for col, tnames in cols.items():
            known = [t for t in tnames if t in ("unique", "not_null")]
            alias = None
            if known:
                # ONE aggregate pass answers every test of a column
                # (r12, guide §2.4 — the dbt_schema_tests spec's fused
                # form, ported here): with a `unique` test the column
                # is grouped once and both counts fall out of the
                # grouped relation; a lone `not_null` is a plain
                # conditional count, no grouping. The r11 form planned
                # one scalar subquery per TEST — each its own job plus
                # exchange jobs (measured: 10 jobs for 3 counts in the
                # build pipeline).
                alias = f"s{len(rels)}"
                if "unique" in known:
                    rels.append(
                        f"({_unique_not_null_sql(name, col)}) {alias}"
                    )
                else:
                    rels.append(
                        "(SELECT CAST(COUNT(CASE WHEN"
                        f" {col} IS NULL THEN 1 END) AS BIGINT) AS"
                        f" null_viol FROM {name}) {alias}"
                    )
            for t in tnames:
                if t == "unique":
                    fq = (
                        f"SELECT {col}, COUNT(*) AS n_records "
                        f"FROM {name} WHERE {col} IS NOT NULL "
                        f"GROUP BY {col} HAVING COUNT(*) > 1"
                    )
                    expr = f"{alias}.uniq_viol"
                elif t == "not_null":
                    fq = f"SELECT * FROM {name} WHERE {col} IS NULL"
                    expr = f"{alias}.null_viol"
                else:
                    results.append(
                        {"node": f"{t}_{name}_{col}", "kind": "test",
                         "status": "error",
                         "detail": f"unknown schema test {t!r}"}
                    )
                    continue
                queued.append((f"{t}_{name}_{col}", expr, fq))
        if queued:
            row = spark.sql(
                "SELECT " + ", ".join(
                    f"{q} AS c{i}" for i, (_, q, _) in enumerate(queued)
                )
                + " FROM " + " CROSS JOIN ".join(rels)
            ).collect()[0]
            for i, (node, _, fq) in enumerate(queued):
                n_bad = row[f"c{i}"]
                rec = {
                    "node": node, "kind": "test",
                    "status": "pass" if n_bad == 0 else "fail",
                    "detail": f"failed_records={n_bad}",
                }
                if store_failures and n_bad != 0:
                    # dbt --store-failures: the VIOLATING ROWS land in
                    # an auditable warehouse table named after the
                    # test (the debugging artifact dbt users query
                    # next); only failing tests pay the write.
                    fpath = f"{self.warehouse_dir}/dq_failures/{node}"
                    spark.sql(fq).write.mode("overwrite").parquet(
                        fpath
                    )
                    spark.read.parquet(
                        fpath
                    ).createOrReplaceTempView(node)
                    rec["failures_table"] = node
                results.append(rec)
        return results

# ---------------------------------------------------------------------------
# The reference's example project, ported verbatim as the first corpus
# (models/example/my_first_dbt_model.sql:12-21, my_second_dbt_model.sql:4-6).
# Model 1 materializes as table and contains an intentional NULL id;
# model 2 is a view filtering to id = 1.
# ---------------------------------------------------------------------------

EXAMPLE_MODELS: dict[str, str] = {
    "my_first_dbt_model": """
{{ config(materialized='table') }}

with source_data as (

    select 1 as id
    union all
    select null as id

)

select *
from source_data
""",
    "my_second_dbt_model": """
select *
from {{ ref('my_first_dbt_model') }}
where id = 1
""",
}


def run_example_project(spark: SparkSession) -> dict[str, DataFrame]:
    # defaults mirror the reference's per-directory config
    # (`example: +materialized: table`, dbt_project.yml:42): under real
    # dbt BOTH example models are tables — model 1 restates it inline,
    # model 2 inherits it. An earlier port ran model 2 as a view
    # (identical rows, different materialization).
    return ModelGraph(
        EXAMPLE_MODELS, defaults={"materialized": "table"}
    ).run(spark)


def dbt_example_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of both example models' outputs, tagged by model name."""
    out = run_example_project(spark)
    first = out["my_first_dbt_model"].selectExpr(
        "'my_first_dbt_model' AS model", "CAST(id AS BIGINT) AS id"
    )
    second = out["my_second_dbt_model"].selectExpr(
        "'my_second_dbt_model' AS model", "CAST(id AS BIGINT) AS id"
    )
    return first.unionByName(second)


ORACLE_EXAMPLE_MODELS = """
WITH my_first_dbt_model AS (
  SELECT 1 AS id UNION ALL SELECT NULL AS id
),
my_second_dbt_model AS (
  SELECT * FROM my_first_dbt_model WHERE id = 1
)
SELECT 'my_first_dbt_model' AS model, CAST(id AS BIGINT) AS id FROM my_first_dbt_model
UNION ALL
SELECT 'my_second_dbt_model' AS model, CAST(id AS BIGINT) AS id FROM my_second_dbt_model
"""


# ---------------------------------------------------------------------------
# dbt generic schema tests (`unique`, `not_null` — models/example/schema.yml)
# with dbt's semantics, the same SQL ModelGraph._run_schema_tests runs.
# my_first_dbt_model.id intentionally violates not_null (the starter's
# built-in negative test, SURVEY.md §5).
# ---------------------------------------------------------------------------

SCHEMA_TESTS: dict[str, dict[str, list[str]]] = {
    # model → column → tests (schema.yml:10-12,19-21)
    "my_first_dbt_model": {"id": ["unique", "not_null"]},
    "my_second_dbt_model": {"id": ["unique", "not_null"]},
}


def _unique_not_null_sql(model: str, col: str) -> str:
    """One aggregate answering a column's ``unique`` and ``not_null``.

    Groups by the column once: ``uniq_viol`` counts the non-NULL groups
    with more than one row, ``null_viol`` is the NULL group's row count.
    """
    grouped = (
        f"SELECT {col} AS k, COUNT(*) AS cnt FROM {model} GROUP BY {col}"
    )
    return (
        "SELECT CAST(COUNT(CASE WHEN k IS NOT NULL AND "
        "cnt > 1 THEN 1 END) AS BIGINT) AS uniq_viol, "
        "CAST(COALESCE(SUM(CASE WHEN k IS NULL THEN cnt "
        f"END), 0) AS BIGINT) AS null_viol FROM ({grouped})"
    )


def dbt_schema_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run schema.yml-style tests over the materialized example models.

    dbt semantics: `unique` counts values occurring more than once,
    NULLs exempt; `not_null` counts NULL rows. 0 violations ⇒ pass.
    """
    run_example_project(spark)
    parts = []
    for model, cols in SCHEMA_TESTS.items():
        for col, tests in cols.items():
            unknown = set(tests) - {"unique", "not_null"}
            if unknown:
                raise ValueError(f"unknown schema tests {sorted(unknown)}")
            # ONE two-level aggregate answers BOTH tests of a column
            # (r12, guide §2.4), then stack() turns its single row into
            # one row per test. The r11 form planned one scalar
            # subquery (= one job + its exchange jobs) per test.
            pairs = ", ".join(
                f"'{t}', " + ("uniq_viol" if t == "unique" else "null_viol")
                for t in tests
            )
            parts.append(spark.sql(
                f"SELECT '{model}' AS model, '{col}' AS column_name,"
                " test_name, failed_records, CASE WHEN"
                " failed_records = 0 THEN 'PASS' ELSE 'FAIL' END"
                f" AS status FROM (SELECT stack({len(tests)},"
                f" {pairs}) AS (test_name, failed_records)"
                f" FROM ({_unique_not_null_sql(model, col)}))"
            ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


ORACLE_SCHEMA_TESTS = """
WITH my_first_dbt_model AS (
  SELECT 1 AS id UNION ALL SELECT NULL AS id
),
my_second_dbt_model AS (
  SELECT * FROM my_first_dbt_model WHERE id = 1
),
checks(model, column_name, test_name, failed_records) AS (
  SELECT 'my_first_dbt_model', 'id', 'unique',
    (SELECT COUNT(*) FROM (SELECT id FROM my_first_dbt_model WHERE id IS NOT NULL GROUP BY id HAVING COUNT(*) > 1))
  UNION ALL
  SELECT 'my_first_dbt_model', 'id', 'not_null',
    (SELECT COUNT(*) FROM my_first_dbt_model WHERE id IS NULL)
  UNION ALL
  SELECT 'my_second_dbt_model', 'id', 'unique',
    (SELECT COUNT(*) FROM (SELECT id FROM my_second_dbt_model WHERE id IS NOT NULL GROUP BY id HAVING COUNT(*) > 1))
  UNION ALL
  SELECT 'my_second_dbt_model', 'id', 'not_null',
    (SELECT COUNT(*) FROM my_second_dbt_model WHERE id IS NULL)
)
SELECT model, column_name, test_name, CAST(failed_records AS BIGINT) AS failed_records,
       CASE WHEN failed_records = 0 THEN 'PASS' ELSE 'FAIL' END AS status
FROM checks
"""


# ---------------------------------------------------------------------------
# A realistic model DAG over the driver tables: raw → curated → mart,
# exercising ref() chains, table + view materialization, and showing the
# model layer is not tied to the toy example.
# ---------------------------------------------------------------------------

ANALYTICS_MODELS: dict[str, str] = {
    "stg_orders": """
select o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       cast(o_orderdate as date) as order_date
from orders
""",
    "stg_customers": """
select c_custkey, c_name, c_nationkey, c_mktsegment
from customer
""",
    "fct_customer_orders": """
{{ config(materialized='table') }}
select c.c_custkey, c.c_name, c.c_mktsegment,
       count(*) as n_orders,
       cast(sum(cast(o.o_totalprice as decimal(22,6))) as double) as lifetime_value
from {{ ref('stg_orders') }} o
join {{ ref('stg_customers') }} c on o.o_custkey = c.c_custkey
group by c.c_custkey, c.c_name, c.c_mktsegment
""",
    "mart_segment_summary": """
select c_mktsegment,
       count(*) as n_customers,
       cast(sum(cast(lifetime_value as decimal(22,6))) as double) as segment_value
from {{ ref('fct_customer_orders') }}
group by c_mktsegment
""",
}


def model_pipeline_segment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all(spark, sf_dir)
    out = ModelGraph(ANALYTICS_MODELS).run(spark)
    return out["mart_segment_summary"]


ORACLE_MODEL_PIPELINE = """
WITH stg_orders AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         CAST(o_orderdate AS DATE) AS order_date
  FROM orders
),
stg_customers AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
),
fct_customer_orders AS (
  SELECT c.c_custkey, c.c_name, c.c_mktsegment,
         COUNT(*) AS n_orders,
         CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(22,6))) AS VARCHAR) AS DOUBLE) AS lifetime_value
  FROM stg_orders o JOIN stg_customers c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_name, c.c_mktsegment
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(CAST(SUM(CAST(lifetime_value AS DECIMAL(22,6))) AS VARCHAR) AS DOUBLE) AS segment_value
FROM fct_customer_orders
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Incremental materialization demo: a daily event-revenue model built in
# four partition-overwrite runs (three day-range slices + one overlapping
# re-run proving idempotence). The final table must equal the one-shot
# aggregate — the invariant dbt incremental models promise. At 100 TB a
# daily run rewrites only that day's partitions (dynamic
# partitionOverwriteMode), never the table.
# ---------------------------------------------------------------------------

INCREMENTAL_MODEL: dict[str, str] = {
    "daily_event_revenue": """
{{ config(materialized='incremental', partition_by='event_date') }}
select cast(cast(ts as date) as string) as event_date,
       event_type,
       count(*) as n_events,
       cast(sum(cast(value as decimal(22,6))) as double) as total_value
from events_batch
group by 1, 2
""",
}

#: [lo, hi) ts slices simulating scheduled daily-range runs; the last
#: overlaps the second — partition overwrite makes the re-run a no-op.
INCREMENTAL_SLICES = (
    ("2024-01-01", "2024-01-11"),
    ("2024-01-11", "2024-01-21"),
    ("2024-01-21", "2024-02-01"),
    ("2024-01-14", "2024-01-16"),
)


def model_incremental_daily_revenue(
    spark: SparkSession, sf_dir: str,
    warehouse_dir: str = os.path.join(ARTIFACTS_DIR, "warehouse_incr"),
) -> DataFrame:
    shutil.rmtree(warehouse_dir, ignore_errors=True)
    events = register_all(spark, sf_dir, tables=("events",))["events"]
    graph = ModelGraph(INCREMENTAL_MODEL, warehouse_dir=warehouse_dir)
    for lo, hi in INCREMENTAL_SLICES:
        events.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(hi).cast("timestamp_ntz"))
        ).createOrReplaceTempView("events_batch")
        graph.run(spark)
    return read_table(spark, f"{warehouse_dir}/daily_event_revenue").select(
        F.col("event_date").cast("string").alias("event_date"),
        "event_type",
        "n_events",
        "total_value",
    )


ORACLE_INCREMENTAL = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
       event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(22,6))) AS VARCHAR) AS DOUBLE) AS total_value
FROM events
-- the INCREMENTAL_SLICES union: an incremental pipeline only holds
-- what its batches ingested; rows outside every slice (stray 1970/
-- 2099 timestamps, NULL ts) are by definition not in the table
WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Merge (unique_key upsert) demo: per-customer order summary built in
# three keyed batches. Later batches REPLACE a customer's row; the
# final table must equal "latest batch wins per customer" computed in
# one shot — the invariant dbt's incremental unique_key strategy
# promises. Batches split on o_orderdate so which batch last touched a
# customer is deterministic.
# ---------------------------------------------------------------------------

MERGE_MODEL: dict[str, str] = {
    "customer_order_state": """
{{ config(materialized='merge', unique_key='o_custkey') }}
select o_custkey,
       count(*) as n_orders,
       cast(max(o_orderdate) as date) as last_order,
       cast(sum(cast(o_totalprice as decimal(22,6))) as double)
         as total_spend
from orders_batch
group by o_custkey
""",
}

#: [lo, hi) order-date batches; each run upserts the customers active
#: in that window. The last batch re-runs the final window — replaying
#: a batch must be a no-op (same keys, same aggregates).
MERGE_BATCHES = (
    ("1995-01-01", "1998-01-01"),
    ("1998-01-01", "2000-01-01"),
    ("2000-01-01", "2002-01-01"),
    ("2000-01-01", "2002-01-01"),
)


def model_merge_customer_state(
    spark: SparkSession, sf_dir: str,
    warehouse_dir: str = os.path.join(ARTIFACTS_DIR, "warehouse_merge"),
) -> DataFrame:
    shutil.rmtree(warehouse_dir, ignore_errors=True)
    orders = register_all(spark, sf_dir, tables=("orders",))["orders"]
    graph = ModelGraph(MERGE_MODEL, warehouse_dir=warehouse_dir)
    for lo, hi in MERGE_BATCHES:
        # NULL unique_key is unsupported by keyed MERGE (ON key = key
        # never matches NULL, so every batch touching it would APPEND
        # a fresh NULL row instead of upserting) — excluded at the
        # batch boundary, mirrored in the oracle
        orders.filter(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp_ntz"))
            & F.col("o_custkey").isNotNull()
        ).createOrReplaceTempView("orders_batch")
        graph.run(spark)
    return read_table(spark, f"{warehouse_dir}/customer_order_state").select(
        "o_custkey",
        "n_orders",
        F.col("last_order").cast("string").alias("last_order"),
        "total_spend",
    )


#: latest-batch-wins per customer, computed in one pass: each customer's
#: surviving row comes from the last window in which they had orders.
ORACLE_MERGE = """
WITH batched AS (
  SELECT o_custkey,
         CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01' THEN 2
              WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 1
              ELSE 0 END AS b,
         o_orderdate, o_totalprice
  FROM orders
  -- MERGE_BATCHES union; a NULL unique_key is unsupported by keyed
  -- MERGE (ON key = key never matches NULL — each batch would append
  -- a fresh NULL row), so the batches exclude it up front
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '2002-01-01'
    AND o_custkey IS NOT NULL),
last_b AS (SELECT o_custkey, MAX(b) AS b FROM batched GROUP BY o_custkey)
SELECT t.o_custkey,
       COUNT(*) AS n_orders,
       CAST(CAST(MAX(t.o_orderdate) AS DATE) AS VARCHAR) AS last_order,
       CAST(CAST(SUM(CAST(t.o_totalprice AS DECIMAL(22,6))) AS VARCHAR)
            AS DOUBLE) AS total_spend
FROM batched t JOIN last_b USING (o_custkey, b)
GROUP BY t.o_custkey
"""


# ---------------------------------------------------------------------------
# dbt seed front-end: the reference declares seed-paths
# (dbt_project.yml:17) with an empty seeds/ dir — this supplies the
# `dbt seed` materialization: csv → warehouse table → ref()-able node.
# ---------------------------------------------------------------------------

SEED_CSV_PATH = os.path.join(REPO_ROOT, "seeds", "country_codes.csv")

#: dbt column_types for the seed — pinned so neither engine leans on
#: csv type inference.
SEED_SCHEMAS = {
    "country_codes": "code string, country string, region_key bigint"
}

SEED_PROJECT_MODELS: dict[str, str] = {
    "stg_countries": """
{{ config(materialized='ephemeral') }}
select code, country, region_key from {{ ref('country_codes') }}
""",
    "mart_region_countries": """
{{ config(materialized='table') }}
select r.r_name as region_name,
       count(*) as n_countries,
       min(s.code) as first_code
from {{ ref('stg_countries') }} s
join region r on s.region_key = r.r_regionkey
group by r.r_name
""",
}


def dbt_seed_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dbt seed`` → ``dbt run``: a csv seed ref()'d through an
    ephemeral staging model into a table mart joined against the
    warehouse ``region`` table.

    Exercises the full seed surface: csv load with pinned column
    types, parquet materialization, DAG membership (the mart's ref
    chain passes through an ephemeral inline), and compiled-SQL
    target output.
    """
    register_all(spark, sf_dir, ("region",))
    g = ModelGraph(
        SEED_PROJECT_MODELS,
        seeds={"country_codes": SEED_CSV_PATH},
        seed_schemas=SEED_SCHEMAS,
        target_dir=os.path.join(ARTIFACTS_DIR, "target"),
    )
    out = g.run(spark)
    return out["mart_region_countries"].select(
        "region_name", "n_countries", "first_code"
    )


ORACLE_SEED_MODELS = f"""
WITH country_codes AS (
  SELECT * FROM read_csv('{SEED_CSV_PATH}', header=true,
    columns={{'code': 'VARCHAR', 'country': 'VARCHAR',
              'region_key': 'BIGINT'}})),
stg_countries AS (
  SELECT code, country, region_key FROM country_codes)
SELECT r.r_name AS region_name,
       COUNT(*) AS n_countries,
       MIN(s.code) AS first_code
FROM stg_countries s
JOIN region r ON s.region_key = r.r_regionkey
GROUP BY r.r_name
"""


BUILD_DEMO_MODELS: dict[str, str] = {
    "stg_codes": "select code, region_key from {{ ref('country_codes') }}",
    "bad_model": "select no_such_column from {{ ref('stg_codes') }}",
    "child_of_bad": "select * from {{ ref('bad_model') }}",
    "mart_counts": (
        "{{ config(materialized='table') }} "
        "select region_key, count(*) as n from {{ ref('stg_codes') }} "
        "group by region_key"
    ),
}


def dbt_build_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dbt build`` end-to-end under the gate: seed → models → tests
    with one deliberately broken branch.

    The status matrix is fully deterministic (fixture seed + fixed
    models), so the oracle is a literal VALUES table: the seed and the
    healthy chain succeed, the bad model errors, its child is SKIPPED
    (dbt's failure isolation), and the interleaved schema tests report
    pass/fail. Error detail strings are engine-worded, so the spec
    emits (node, kind, status) only.
    """
    g = ModelGraph(
        BUILD_DEMO_MODELS,
        seeds={"country_codes": SEED_CSV_PATH},
        seed_schemas=SEED_SCHEMAS,
        warehouse_dir=os.path.join(ARTIFACTS_DIR, "warehouse"),
    )
    res = g.build(
        spark,
        schema_tests={
            "stg_codes": {"code": ["unique", "not_null"]},
            "mart_counts": {"region_key": ["unique"]},
        },
    )
    return spark.createDataFrame(
        [(r["node"], r["kind"], r["status"]) for r in res],
        "node string, kind string, status string",
    )


ORACLE_BUILD_STATUSES = """
SELECT * FROM (VALUES
  ('country_codes', 'seed', 'success'),
  ('stg_codes', 'model', 'success'),
  ('unique_stg_codes_code', 'test', 'pass'),
  ('not_null_stg_codes_code', 'test', 'pass'),
  ('bad_model', 'model', 'error'),
  ('child_of_bad', 'model', 'skipped'),
  ('mart_counts', 'model', 'success'),
  ('unique_mart_counts_region_key', 'test', 'pass')
) AS t(node, kind, status)
"""


# ---------------------------------------------------------------------------
# {{ source() }} + sources.yml + `dbt source freshness` (VERDICT r5
# item 3): the reference reads raw tables by literal name
# (tests/example_templates.yaml:3, `your-team-project.raw.transactions`);
# real dbt projects declare them in sources.yml and reach them via
# source(), with freshness checks on a loaded_at field. Thresholds are
# chosen so the three graded tables land on all three dbt statuses
# deterministically at every SF (orders/lineitem max dates are 1998,
# events run through Jan 2024; NOW is pinned to 2024-02-01).
# ---------------------------------------------------------------------------

FRESHNESS_NOW = "2024-02-01 00:00:00"

SOURCES_CONFIG: dict[str, dict[str, dict]] = {
    "warehouse": {
        "orders": {
            "loaded_at_field": "o_orderdate",
            "freshness": {
                "warn_after": {"count": 24, "period": "hour"},
                "error_after": {"count": 48, "period": "hour"},
            },
        },
        "lineitem": {
            "loaded_at_field": "l_shipdate",
            "freshness": {
                # generous enough that 1998 data still passes
                "warn_after": {"count": 1_000_000, "period": "hour"},
                "error_after": {"count": 2_000_000, "period": "hour"},
            },
        },
        "events": {
            "loaded_at_field": "ts",
            "freshness": {
                # events end ~2024-01-31: older than 1h, newer than 10y
                "warn_after": {"count": 1, "period": "hour"},
                "error_after": {"count": 87_600, "period": "hour"},
            },
        },
    },
}

SOURCE_PROJECT_MODELS: dict[str, str] = {
    "src_purchase_stats": """
{{ config(materialized='table') }}
select event_type, count(*) as n_events
from {{ source('warehouse', 'events') }}
where event_type = 'purchase'
group by event_type
""",
}


def dbt_sources_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source() resolution + `dbt source freshness` in one gated spec.

    Output rows: one per graded source table
    (``source.<src>.<table>`` / 'freshness' / status) plus the
    source()-resolving model's aggregate ('n_events'), proving both
    that the declaration layer resolves into the model DAG and that
    the freshness grader reads the same relations.
    """
    register_all(spark, sf_dir, ("orders", "lineitem", "events"))
    g = ModelGraph(SOURCE_PROJECT_MODELS, sources=SOURCES_CONFIG)
    out = g.run(spark)
    fresh = g.source_freshness(spark, FRESHNESS_NOW)
    rows = [
        (f"source.{r['source']}.{r['table']}", "freshness", r["status"])
        for r in fresh
    ]
    # a global fold over the model rows, fetched with the graded rows
    # (no driver round-trip): on an EMPTY events source the grouped
    # model has zero rows and the summary must read 0, matching the
    # oracle's global COUNT (wave 7 empty-corpus gate)
    n_events = out["src_purchase_stats"].agg(
        F.lit("model.src_purchase_stats").alias("node"),
        F.lit("n_events").alias("metric"),
        F.coalesce(F.sum("n_events"), F.lit(0)).cast("string").alias("value"),
    )
    return spark.createDataFrame(
        rows, "node string, metric string, value string"
    ).unionByName(n_events)


def _oracle_freshness() -> str:
    def grade(table, col, warn_h, err_h):
        now = f"TIMESTAMP '{FRESHNESS_NOW}'"
        # NULL MAX (empty source) grades 'error', matching dbt and the
        # Spark grader — a bare CASE would fall through to 'pass'
        return f"""
SELECT 'source.warehouse.{table}' AS node, 'freshness' AS metric,
       CASE WHEN MAX({col}) IS NULL THEN 'error'
            WHEN MAX({col}) < {now} - INTERVAL {err_h} HOUR
              THEN 'error'
            WHEN MAX({col}) < {now} - INTERVAL {warn_h} HOUR
              THEN 'warn'
            ELSE 'pass' END AS value
FROM {table}"""

    return (
        grade("orders", "o_orderdate", 24, 48)
        + "\nUNION ALL"
        + grade("lineitem", "l_shipdate", 1_000_000, 2_000_000)
        + "\nUNION ALL"
        + grade("events", "ts", 1, 87_600)
        + """
UNION ALL
SELECT 'model.src_purchase_stats' AS node, 'n_events' AS metric,
       CAST(COUNT(*) AS VARCHAR) AS value
FROM events WHERE event_type = 'purchase'"""
    )


ORACLE_SOURCES_FRESHNESS = _oracle_freshness()


# ---------------------------------------------------------------------------
# {% if is_incremental() %} + {{ this }} (VERDICT r5 item 4): the
# standard dbt incremental guard, proven by LATE-ARRIVING data. Run 1
# builds days < 2024-01-20; run 2's batch contains the full feed PLUS a
# duplicated replay of old days (< 2024-01-10) — exactly what a raw
# landing zone with re-delivered files looks like. With the guard
# rendered, the `where date > (select max(date) from {{ this }})`
# predicate discards every already-loaded day, so the duplicates never
# double-count; without it the old partitions would recompute with the
# replayed rows and diverge from the one-shot oracle. An always-off
# guard fails too (run 2 would re-aggregate old days from the doubled
# source); unrendered Jinja fails at parse.
# ---------------------------------------------------------------------------

INCR_GUARD_MODEL: dict[str, str] = {
    "daily_event_counts": """
{{ config(materialized='incremental', partition_by='event_date') }}
select cast(cast(ts as date) as string) as event_date,
       event_type,
       count(*) as n_events
from events_src
{% if is_incremental() %}
where cast(cast(ts as date) as string) >
      (select max(event_date) from {{ this }})
{% endif %}
group by 1, 2
""",
}

_INCR_GUARD_SPLIT = "2024-01-20"  # run 1 loads days < this
_INCR_GUARD_REPLAY = "2024-01-10"  # run 2 re-delivers days < this


def model_incremental_late_data(
    spark: SparkSession, sf_dir: str,
    warehouse_dir: str = os.path.join(ARTIFACTS_DIR, "warehouse_incr_guard"),
) -> DataFrame:
    shutil.rmtree(warehouse_dir, ignore_errors=True)
    events = register_all(spark, sf_dir, tables=("events",))["events"]
    graph = ModelGraph(INCR_GUARD_MODEL, warehouse_dir=warehouse_dir)

    split = F.lit(_INCR_GUARD_SPLIT).cast("timestamp_ntz")
    replay = F.lit(_INCR_GUARD_REPLAY).cast("timestamp_ntz")

    # run 1: initial load (guard renders empty — table doesn't exist)
    events.filter(F.col("ts") < split).createOrReplaceTempView(
        "events_src"
    )
    graph.run(spark)
    # run 2: full feed + late re-delivery of old days (guard active)
    events.unionByName(
        events.filter(F.col("ts") < replay)
    ).createOrReplaceTempView("events_src")
    graph.run(spark)

    return read_table(spark, f"{warehouse_dir}/daily_event_counts").select(
        F.col("event_date").cast("string").alias("event_date"),
        "event_type",
        "n_events",
    )


ORACLE_INCR_GUARD = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
       event_type,
       COUNT(*) AS n_events
FROM events
-- both the initial-load filter and the is_incremental() guard are ts
-- comparisons: a NULL-ts row fails every predicate and never ingests
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


SPECS: dict[str, QuerySpec] = {
    "dbt_sources_freshness": QuerySpec(
        "dbt_sources_freshness", dbt_sources_freshness,
        ORACLE_SOURCES_FRESHNESS,
        "source()/sources.yml resolution + dbt source freshness "
        "grading (pass/warn/error) in one batched action",
        kind="materialization",
    ),
    "model_incremental_late_data": QuerySpec(
        "model_incremental_late_data", model_incremental_late_data,
        ORACLE_INCR_GUARD,
        "is_incremental() Jinja guard + {{ this }}: late-arriving "
        "duplicate data discarded by the incremental predicate",
        kind="materialization",
        batches=2,
    ),
    "dbt_example_models": QuerySpec(
        "dbt_example_models", dbt_example_models, ORACLE_EXAMPLE_MODELS,
        "reference example models ported verbatim (table + view + ref DAG)",
        kind="materialization",
        batches=2,
    ),
    "dbt_schema_tests": QuerySpec(
        "dbt_schema_tests", dbt_schema_tests, ORACLE_SCHEMA_TESTS,
        "schema.yml unique/not_null tests; model 1 fails not_null by design",
        kind="materialization",
    ),
    "model_pipeline_segment_summary": QuerySpec(
        "model_pipeline_segment_summary", model_pipeline_segment_summary,
        ORACLE_MODEL_PIPELINE,
        "raw→staging→fact→mart ref() DAG over driver tables",
        kind="materialization",
    ),
    "model_incremental_daily_revenue": QuerySpec(
        "model_incremental_daily_revenue", model_incremental_daily_revenue,
        ORACLE_INCREMENTAL,
        "incremental partition-overwrite materialization in 4 sliced runs",
        kind="materialization",
        batches=4,
    ),
    "model_merge_customer_state": QuerySpec(
        "model_merge_customer_state", model_merge_customer_state,
        ORACLE_MERGE,
        "merge (unique_key upsert) materialization in 4 keyed batches",
        kind="materialization",
        batches=4,
    ),
    "dbt_seed_models": QuerySpec(
        "dbt_seed_models", dbt_seed_models, ORACLE_SEED_MODELS,
        "dbt seed: csv -> warehouse table -> ref() through an "
        "ephemeral into a table mart (seed-paths, dbt_project.yml:17)",
        kind="materialization",
    ),
    "dbt_build_statuses": QuerySpec(
        "dbt_build_statuses", dbt_build_statuses, ORACLE_BUILD_STATUSES,
        "dbt build: seed->model->test DAG pass with failure isolation; "
        "deterministic status matrix vs a VALUES oracle",
        kind="materialization",
    ),
}
