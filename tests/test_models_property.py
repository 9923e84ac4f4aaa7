"""Property-based differential test of the model layer: for RANDOM
mini model graphs (literal CTE bases, ref() chains, random
view/table/ephemeral materializations), ModelGraph.run's results must
equal DuckDB executing the same rendered SQL chain. This probes the
mini-Jinja renderer, topo-sort, ephemeral inlining, and
materialization plumbing across a combinatorial surface the two
hand-written example models cannot cover."""

from __future__ import annotations

import os

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gcp_dbt_data_engineering_spark import ARTIFACTS_DIR
from gcp_dbt_data_engineering_spark.plans.models import ModelGraph


@st.composite
def _graphs(draw):
    n = draw(st.integers(min_value=2, max_value=5))
    models: dict[str, str] = {}
    mats: dict[str, str] = {}
    for i in range(n):
        name = f"m{i}"
        if i == 0 or draw(st.booleans()):
            rows = draw(
                st.lists(
                    st.tuples(
                        st.integers(min_value=0, max_value=9),
                        st.integers(min_value=-5, max_value=5),
                    ),
                    min_size=1,
                    max_size=4,
                )
            )
            body = " UNION ALL ".join(
                f"SELECT {a} AS id, {b} AS val" for a, b in rows
            )
        else:
            ref = f"m{draw(st.integers(min_value=0, max_value=i - 1))}"
            k = draw(st.integers(min_value=1, max_value=3))
            r = draw(st.integers(min_value=0, max_value=2)) % k
            c = draw(st.integers(min_value=-2, max_value=3))
            body = (
                f"SELECT id, val * {c} AS val"
                f" FROM {{{{ ref('{ref}') }}}} WHERE id % {k} = {r}"
            )
        mat = draw(st.sampled_from(["view", "table", "ephemeral"]))
        if i == n - 1 and all(m == "ephemeral" for m in mats.values()):
            mat = "view"  # guarantee at least one materialized output
        mats[name] = mat
        models[name] = (
            f"{{{{ config(materialized='{mat}') }}}}\n{body}"
        )
    return models, mats


def _duckdb_expected(models: dict[str, str], mats: dict[str, str]):
    """Replay the graph in DuckDB: topo order, ephemeral inlined."""
    graph = ModelGraph(models)
    con = duckdb.connect()
    ephemeral: dict[str, str] = {}
    out = {}
    for name in graph.topo_order():
        sql, cfg = graph.models[name].render(
            graph.defaults,
            lambda n: f"({ephemeral[n]})" if n in ephemeral else n,
        )
        if cfg["materialized"] == "ephemeral":
            ephemeral[name] = sql
            continue
        con.execute(f"CREATE VIEW {name} AS {sql}")
        out[name] = sorted(
            tuple(int(x) for x in row)
            for row in con.execute(f"SELECT * FROM {name}").fetchall()
        )
    con.close()
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_graphs())
def test_model_graph_matches_duckdb_replay(spark, gm):
    models, mats = gm
    results = ModelGraph(
        models, warehouse_dir=os.path.join(ARTIFACTS_DIR, "prop_warehouse")
    ).run(spark)
    expected = _duckdb_expected(models, mats)
    assert set(results) == set(expected)
    for name, df in results.items():
        got = sorted(
            tuple(int(x) for x in row) for row in df.collect()
        )
        assert got == expected[name], name


def test_quote_aware_arg_split_roundtrip_property():
    """Property (ADVICE r6 fix): the quote-aware splitter is the exact
    inverse of a comma-join — segments rejoin to the original text —
    and never splits inside a quoted region (balanced quotes)."""
    from gcp_dbt_data_engineering_spark.plans.models import (
        _split_args_quote_aware,
    )

    seg_chars = st.text(
        alphabet="abc_ 09().", min_size=0, max_size=8
    )
    quoted = st.builds(
        lambda body, q: q + body.replace(q, q * 2) + q,
        st.text(alphabet="abc, ':\"", min_size=0, max_size=8),
        st.sampled_from(["'", '"']),
    )
    segment = st.lists(
        st.one_of(seg_chars, quoted), min_size=0, max_size=3
    ).map("".join)

    @settings(
        max_examples=300,
        deadline=None,
        suppress_health_check=[HealthCheck.filter_too_much],
    )
    @given(st.lists(segment, min_size=1, max_size=4))
    def check(segments):
        text = ",".join(segments)
        parts = _split_args_quote_aware(text)
        # roundtrip is ALWAYS exact
        assert ",".join(parts) == text
        # a comma inside a quoted region never splits: every part has
        # balanced quote state (scan ends outside a literal)
        for part in parts:
            quote = None
            i = 0
            while i < len(part):
                ch = part[i]
                if quote is None:
                    if ch in "'\"":
                        quote = ch
                elif ch == quote:
                    if i + 1 < len(part) and part[i + 1] == quote:
                        i += 1
                    else:
                        quote = None
                i += 1
            assert quote is None, part

    check()


def test_footer_stats_max_matches_scan_and_falls_back(spark, tmp_path):
    """The freshness grader's parquet-footer MAX fast path
    (ModelGraph._parquet_stats_max) must equal the scanned MAX on the
    real fixture tables, fall back (return None) for columns whose
    stats can't prove the answer (strings — writer-truncatable), and
    report an all-NULL column as (True, None), the same verdict the
    scanned NULL MAX grades as 'error'."""
    from datetime import date, datetime

    from gcp_dbt_data_engineering_spark.plans.models import ModelGraph
    from gcp_dbt_data_engineering_spark.sources import register_all

    sf_dir = "/root/testdata/sf0.001"
    register_all(spark, sf_dir, ("orders", "lineitem", "events"))
    for rel, la in (
        ("orders", "o_orderdate"),
        ("lineitem", "l_shipdate"),
        ("events", "ts"),
    ):
        got = ModelGraph._parquet_stats_max(spark, rel, la)
        assert got is not None, f"{rel}.{la}: footer path must apply"
        scanned = spark.sql(f"SELECT MAX({la}) AS m FROM {rel}").collect()[
            0
        ]["m"]
        if isinstance(scanned, date) and not isinstance(
            scanned, datetime
        ):
            scanned = datetime(
                scanned.year, scanned.month, scanned.day
            )
        footer = got[1]
        if isinstance(footer, date) and not isinstance(
            footer, datetime
        ):
            footer = datetime(footer.year, footer.month, footer.day)
        assert footer == scanned, (rel, la, footer, scanned)

    # string column: stats may be truncated -> must decline
    assert (
        ModelGraph._parquet_stats_max(spark, "orders", "o_orderstatus")
        is None
    )

    # all-NULL timestamp column -> (True, None), graded like NULL MAX
    p = str(tmp_path / "allnull")
    spark.sql(
        "SELECT CAST(NULL AS TIMESTAMP_NTZ) AS loaded_at"
        " FROM range(10)"
    ).write.parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("__allnull_src")
    got = ModelGraph._parquet_stats_max(spark, "__allnull_src", "loaded_at")
    assert got == (True, None)
    spark.catalog.dropTempView("__allnull_src")


def test_footer_stats_max_plan_and_path_guards(spark, tmp_path, monkeypatch):
    """r12 hardening (ADVICE r11 + VERDICT r11 item 7): the footer fast
    path must DECLINE (None -> scan fallback) whenever the relation is
    not provably a bare local parquet scan — a filtered view keeping
    the column name (the footers describe the UNFILTERED files), a
    renamed column, an instant (isAdjustedToUTC) timestamp, a file
    count past the O(files) walk cap, and remote-scheme input paths."""
    from gcp_dbt_data_engineering_spark.plans.models import ModelGraph
    from gcp_dbt_data_engineering_spark.sources import register_all

    sf_dir = "/root/testdata/sf0.001"
    register_all(spark, sf_dir, ("events", "orders"))

    # filtered view with the same column name: MUST scan
    spark.table("events").filter(
        "event_type = 'purchase'"
    ).createOrReplaceTempView("__events_filtered")
    assert (
        ModelGraph._parquet_stats_max(spark, "__events_filtered", "ts")
        is None
    )

    # renamed column: the footer would read a DIFFERENT physical column
    spark.table("events").selectExpr(
        "event_id AS ts"
    ).createOrReplaceTempView("__events_renamed")
    assert (
        ModelGraph._parquet_stats_max(spark, "__events_renamed", "ts")
        is None
    )

    # instant (LTZ) timestamp: scan renders through the session TZ,
    # footer epoch-micros are naive UTC — decline (also declined when
    # the writer chose a non-INT64 physical layout)
    p = str(tmp_path / "ltz")
    spark.sql(
        "SELECT TIMESTAMP '2024-01-01 00:00:00' AS loaded_at"
        " FROM range(4)"
    ).write.parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("__ltz_src")
    assert (
        ModelGraph._parquet_stats_max(spark, "__ltz_src", "loaded_at")
        is None
    )

    # file count past the walk cap: decline (the batched scan job wins
    # at 100 TB file censuses)
    p2 = str(tmp_path / "manyfiles")
    n_files = ModelGraph._FOOTER_WALK_MAX_FILES + 1
    # range(n, numPartitions=n): one row per partition, no shuffle —
    # exactly n data files (a round-robin repartition can leave some
    # target partitions empty and write fewer)
    spark.range(0, n_files, 1, n_files).selectExpr(
        "CAST(NULL AS TIMESTAMP_NTZ) AS loaded_at"
    ).write.parquet(p2)
    df_many = spark.read.parquet(p2)
    assert len(df_many.inputFiles()) > ModelGraph._FOOTER_WALK_MAX_FILES
    df_many.createOrReplaceTempView("__many_src")
    assert (
        ModelGraph._parquet_stats_max(spark, "__many_src", "loaded_at")
        is None
    )

    # remote-scheme input files (hdfs://, s3a://): the local footer
    # read raises and the fast path declines instead of crashing
    # (patch the concrete class — pyspark.sql.DataFrame is the ABC)
    cls = type(spark.table("orders"))
    monkeypatch.setattr(
        cls,
        "inputFiles",
        lambda self: ["hdfs://namenode:8020/warehouse/orders/x.parquet"],
    )
    assert (
        ModelGraph._parquet_stats_max(spark, "orders", "o_orderdate")
        is None
    )
