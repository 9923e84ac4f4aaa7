"""Content-robustness semantics pinned by the r8 adversarial-corpus
sweep (tools/make_nasty.py → CORRECTNESS_nasty.json).

The sweep injected the pathological rows every real 100 TB corpus
contains — empty/whitespace/unicode/NULL documents, zero/huge/
denormal/NULL embeddings — and surfaced 18 defects. These tests pin
each fixed boundary rule WITHOUT needing the corpus on disk, so a
regression fails in the plain suite.
"""

from __future__ import annotations

import duckdb
import pytest

from gcp_dbt_data_engineering_spark import REPO_ROOT
from gcp_dbt_data_engineering_spark.operators import texthash as th
from gcp_dbt_data_engineering_spark.operators.dedup import (
    QCLAMP,
    QSCALE,
    quant_transform,
)

DIM = 64


def test_polyhash_empty_and_null_portable(spark):
    """polyhash('') is 0 and polyhash(NULL) is NULL in BOTH dialects.
    DuckDB's raw fold gave -1 for '' (string_split('','') is [''] and
    ord('') is -1; list_reduce has no init)."""
    cases = ["''", "NULL", "'a'", "'hello world'"]
    s_rows = spark.sql(
        "SELECT "
        + ", ".join(f"{th.polyhash(c, 'spark')} AS c{i}" for i, c in enumerate(cases))
    ).collect()[0]
    d_rows = duckdb.sql(
        "SELECT "
        + ", ".join(f"{th.polyhash(c, 'duck')} AS c{i}" for i, c in enumerate(cases))
    ).fetchone()
    assert tuple(s_rows) == tuple(d_rows)
    assert s_rows[0] == 0 and s_rows[1] is None


def test_words_null_text_is_empty_array(spark):
    """words(NULL) tokenizes to [] in both dialects — a missing doc
    has ZERO words, so every count/ratio sees 0, never a NULL that
    propagates differently per engine."""
    s = spark.sql(
        f"SELECT size({th.words('CAST(NULL AS STRING)', 'spark')}) AS n"
    ).collect()[0]["n"]
    d = duckdb.sql(
        f"SELECT len({th.words('CAST(NULL AS VARCHAR)', 'duck')}) AS n"
    ).fetchone()[0]
    assert s == 0 and d == 0


def test_quant_clamp_bounds_norm_fold(spark):
    """A corrupt ±1e30 embedding component must quantize to ±QCLAMP so
    the int64 norm fold cannot overflow (pre-fix: ANSI
    ARITHMETIC_OVERFLOW killed every similarity spec)."""
    row = spark.sql(
        f"""SELECT {quant_transform(
            "array(CAST(1e30 AS FLOAT), CAST(-1e30 AS FLOAT),"
            " CAST(0.5 AS FLOAT))", 'spark')} AS q"""
    ).collect()[0]["q"]
    assert row[0] == QCLAMP and row[1] == -QCLAMP
    assert row[2] == int(0.5 * QSCALE)
    d = duckdb.sql(
        f"""SELECT {quant_transform(
            "[CAST(1e30 AS FLOAT), CAST(-1e30 AS FLOAT),"
            " CAST(0.5 AS FLOAT)]", 'duck')} AS q"""
    ).fetchone()[0]
    assert list(d) == list(row)
    # the clamp really protects EVERY fold the engine runs (ADVICE r9:
    # the norm bound alone left the IVF centroid-distance fold exposed):
    # norms/dots sum DIM terms of q², the IVF probe/assign L2 fold sums
    # DIM terms of (x-v)² with |x-v| ≤ 2·QCLAMP (centroid components
    # are means of clamped values) — both must fit int64, since Spark's
    # BIGINT aggregate() wraps/throws where DuckDB's SUM promotes to
    # HUGEINT.
    assert DIM * QCLAMP * QCLAMP < 2**63
    assert DIM * (2 * QCLAMP) * (2 * QCLAMP) < 2**63


def test_quant_transform_pins_null_elements(spark):
    """A NULL ELEMENT inside a present vector quantizes to 0 in both
    dialects (ADVICE r8): Spark's greatest/least skip NULL arguments
    while older DuckDB propagates them, so without the coalesce a
    missing component silently became +QCLAMP on one side and NULL on
    the other. Same pin for the int8 code path (_q8_expr)."""
    import duckdb

    from gcp_dbt_data_engineering_spark.operators.dedup import (
        quant_transform,
    )

    row = spark.sql(
        f"""SELECT {quant_transform(
            "array(CAST(0.5 AS FLOAT), CAST(NULL AS FLOAT),"
            " CAST(-2.0 AS FLOAT))", 'spark')} AS q"""
    ).collect()[0]["q"]
    d = duckdb.sql(
        f"""SELECT {quant_transform(
            "[CAST(0.5 AS FLOAT), CAST(NULL AS FLOAT),"
            " CAST(-2.0 AS FLOAT)]", 'duck')} AS q"""
    ).fetchone()[0]
    assert list(d) == list(row)
    assert row[1] == 0  # NULL element == 0.0, not +QCLAMP / NULL

    from gcp_dbt_data_engineering_spark.operators.similarity import (
        _q8_expr,
    )

    s8 = spark.sql(
        "SELECT transform(array(CAST(0.5 AS FLOAT), CAST(NULL AS FLOAT)),"
        f" x -> CAST({_q8_expr('x')} AS BIGINT)) AS c8"
        " FROM (SELECT CAST(0.5 AS DOUBLE) AS scale)"
    ).collect()[0]["c8"]
    d8 = duckdb.sql(
        "SELECT list_transform([CAST(0.5 AS FLOAT), CAST(NULL AS FLOAT)],"
        f" x -> CAST({_q8_expr('x')} AS BIGINT)) AS c8"
        " FROM (SELECT CAST(0.5 AS DOUBLE) AS scale)"
    ).fetchone()[0]
    assert list(d8) == list(s8) == [127, 0]


def test_quantized_excludes_null_and_zero_vectors(spark, tmp_path):
    """_quantized drops NULL embeddings (failed encodes) and vectors
    that quantize to all zeros (no representable direction): a NULL
    row crashed the numpy Gram kernel, a zero vector has no cosine."""
    import pandas as pd

    from gcp_dbt_data_engineering_spark.operators.similarity import (
        _quantized,
    )

    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2, 3, 4],
            "embedding": [
                [1.0] * DIM,        # normal
                None,               # failed encode
                [0.0] * DIM,        # zero vector
                [1e-30] * DIM,      # sub-quantum: quantizes to zeros
            ],
            "label": [0, 0, 0, 0],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).selectExpr(
        "vec_id",
        "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label",
    ).write.parquet(f"{sf}/embeddings.parquet")
    out = _quantized(spark, sf)
    assert [r["vec_id"] for r in out.orderBy("vec_id").collect()] == [1]


def test_domain_cap_keeps_null_lang_domains(spark, tmp_path):
    """A NULL-lang (source, lang) domain is still a domain: the count
    join must be null-safe or its docs silently vanish from the cap
    audit (the pre-fix equi-join dropped them)."""
    import pandas as pd

    from gcp_dbt_data_engineering_spark.operators.pipeline import (
        domain_cap_downsample,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["aa bb", "cc dd", "ee ff"],
            "lang": ["en", None, None],
            "source": ["s1", "s2", "s2"],
            "n_chars": [5, 5, 5],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    rows = {
        (r["source"], r["lang"]): (r["n_docs"], r["n_kept"])
        for r in domain_cap_downsample(spark, sf).collect()
    }
    assert rows[("s2", None)] == (2, 2)


def test_mix_weights_unknown_lang_takes_nothing(spark, tmp_path):
    """A lang absent from the weight table samples ZERO docs. Spark's
    least() ignores NULLs, so the pre-fix NULL want became rate 1.0
    and sampled the whole stratum."""
    import pandas as pd

    from gcp_dbt_data_engineering_spark.operators.pipeline import (
        mix_domains_weighted,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": list(range(20)),
            "text": ["hello"] * 20,
            "lang": ["qq"] * 20,  # not in MIX_WEIGHTS_BP
            "source": ["s"] * 20,
            "n_chars": [5] * 20,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    assert mix_domains_weighted(spark, sf).count() == 0


def test_assets_exclude_null_text(spark, tmp_path):
    """NULL text = missing asset: excluded at the assets relation
    (bytes(None) crashed the Arrow synthesis kernel pre-fix); empty
    text stays (zero-body containers are legal)."""
    import pandas as pd

    from gcp_dbt_data_engineering_spark.operators.multimodal import (
        multimodal_meta,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["", None, "abc"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [0, None, 3],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    ids = sorted(
        r["asset_id"] for r in multimodal_meta(spark, sf).collect()
    )
    assert ids == [0, 2]


def test_nasty_artifact_green():
    """The committed adversarial-corpus gate must be N/N exact (156 as of r11: similarity_pq_ivf joined the suite)."""
    import json
    import os

    path = os.path.join(REPO_ROOT, "CORRECTNESS_nasty.json")
    assert os.path.exists(path), "run tools/make_nasty.py + the gate"
    with open(path) as f:
        d = json.load(f)
    assert d["n_fail"] == 0 and d["n_rows_only"] == 0
    assert d["n_specs"] == d["n_pass"] == 156


# -- property: portable-hash parity over unicode, including the empty
# string (the r8 pinned edge) and multi-byte/astral/combining chars --

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_UNI = st.text(
    alphabet=(
        "ab z09 .,!?'-"
        "\xa0\xe9א́你\U0001d518\U0001f469‍"
    ),
    min_size=0,
    max_size=40,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(s=_UNI)
def test_polyhash_parity_unicode(spark, s):
    """Hash parity must hold per CODE POINT on any unicode input —
    NBSP, accents, RTL, CJK, astral plane, combining marks, ZWJ — and
    on the empty string (DuckDB's raw fold gave -1 there pre-fix)."""
    lit = "'" + s.replace("'", "''") + "'"
    spark_h = spark.sql(
        f"SELECT {th.polyhash(lit, 'spark')} AS h"
    ).collect()[0][0]
    duck_h = duckdb.sql(
        f"SELECT {th.polyhash(lit, 'duck')} AS h"
    ).fetchone()[0]
    assert spark_h == duck_h
    assert 0 <= spark_h < th.P


def test_retry_gate_artifact_green():
    """Task-retry determinism (tools/retry_gate.py): with every scan's
    partition 0 failing its first attempt under local[8,3], the
    representative spec set must stay oracle-exact, and at least one
    failure must actually have fired (vacuousness guard)."""
    import json
    import os

    path = os.path.join(REPO_ROOT, "RETRY_GATE.json")
    assert os.path.exists(path), "run tools/retry_gate.py"
    with open(path) as f:
        d = json.load(f)
    assert d["n_fail"] == 0
    assert d["n_injected_failures"] > 0
    assert all(s.get("pass") for s in d["specs"].values())


def test_hdr_clamps_negative_values(spark):
    """HDR bucketing is defined on non-negative values: a refund
    (negative price) lands in the v=0 exact underflow bucket instead
    of diverging (bin()/shift of negatives differ per engine; DuckDB
    errors on a negative left-shift)."""
    from gcp_dbt_data_engineering_spark.operators.sketch import (
        sketch_quantile_hdr_prices,
    )
    import pandas as pd

    # covered end-to-end by CORRECTNESS_nasty; here: the expression
    # level — GREATEST clamp happens before any shift
    row = spark.sql(
        "SELECT GREATEST(CAST(CAST(-999.99 AS DECIMAL(22,6)) * 100"
        " AS BIGINT), CAST(0 AS BIGINT)) AS v"
    ).collect()[0]
    assert row["v"] == 0


def test_decile_keeps_null_priority_group(spark, tmp_path):
    """A NULL-priority stratum keeps its decile rows: both the bounds
    join and the offset-stitch join must be null-safe."""
    import pandas as pd

    from gcp_dbt_data_engineering_spark.plans.stats import (
        orders_decile_stats,
    )

    pdf = pd.DataFrame(
        {
            "o_orderkey": list(range(25)),
            "o_custkey": [1] * 25,
            "o_orderstatus": ["O"] * 25,
            "o_totalprice": [float(10 + i) for i in range(25)],
            "o_orderdate": pd.to_datetime(["1996-01-01"] * 25),
            "o_orderpriority": ["1-URGENT"] * 20 + [None] * 5,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_orderpriority",
    ).write.parquet(f"{sf}/orders.parquet")
    rows = orders_decile_stats(spark, sf).collect()
    null_rows = [r for r in rows if r["o_orderpriority"] is None]
    assert sum(r["n_orders"] for r in null_rows) == 5


def test_merge_rejects_null_unique_key(spark, tmp_path):
    """Keyed MERGE with a NULL unique_key would append a fresh NULL
    row per touching batch (ON key = key never matches NULL); the
    batch boundary excludes such rows."""
    import pandas as pd

    from gcp_dbt_data_engineering_spark.plans.models import (
        model_merge_customer_state,
    )

    pdf = pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3, 4],
            "o_custkey": [10, None, None, 10],
            "o_orderstatus": ["O"] * 4,
            "o_totalprice": [5.0, 6.0, 7.0, 8.0],
            "o_orderdate": pd.to_datetime(
                ["1996-01-01", "1996-02-01", "1999-01-01", "2000-06-01"]
            ),
            "o_orderpriority": ["1-URGENT"] * 4,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_orderpriority",
    ).write.parquet(f"{sf}/orders.parquet")
    out = model_merge_customer_state(
        spark, sf, warehouse_dir=f"{sf}/wh"
    ).collect()
    keys = [r["o_custkey"] for r in out]
    assert keys == [10]  # NULL-key orders never enter any batch


def test_empty_corpus_artifact_green():
    """Wave 7: the committed ZERO-ROW-corpus gate must be 156/156
    exact — every spec handles empty tables (fresh partition /
    filtered-to-nothing branch) without crashing or diverging from
    the oracle. First run found 7 real defects: Spark's rollup/cube
    drop the standard-mandated grand-total row on empty input, the
    profiler emitted no per-column rows, partitioned writes of empty
    batches bricked the read-back, and a freshness summary indexed
    collect()[0] of an empty model."""
    import json
    import os

    path = os.path.join(REPO_ROOT, "CORRECTNESS_empty.json")
    assert os.path.exists(path), "run tools/make_empty.py + the gate"
    with open(path) as f:
        d = json.load(f)
    assert d["n_fail"] == 0 and d["n_rows_only"] == 0
    assert d["n_specs"] == d["n_pass"] == 156


def test_schema_stub_keeps_empty_partitioned_table_readable(spark, tmp_path):
    """Wave 7 root cause, unit-level: a partitionBy write of an empty
    DataFrame produces no data files; read_table falls back to the
    schema stub and returns the declared schema with zero rows
    (production analogue: the catalog/metastore record, or the table
    format's own metadata on Delta/Iceberg)."""
    from gcp_dbt_data_engineering_spark.plans.models import (
        _write_schema_stub,
        read_table,
    )

    path = str(tmp_path / "t")
    empty = spark.createDataFrame([], "a int, b string, fecha date")
    empty.write.partitionBy("fecha").parquet(path)
    _write_schema_stub(path, empty)
    back = read_table(spark, path)
    assert back.count() == 0
    assert set(back.columns) == {"a", "b", "fecha"}
    # and a table WITH files reads normally (stub ignored by discovery)
    full = spark.createDataFrame(
        [(1, "x", None)], "a int, b string, fecha date"
    )
    path2 = str(tmp_path / "t2")
    full.write.partitionBy("fecha").parquet(path2)
    _write_schema_stub(path2, full)
    assert read_table(spark, path2).count() == 1
