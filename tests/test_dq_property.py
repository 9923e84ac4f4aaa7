"""Property-based check of the DQ compiler: for RANDOM job configs,
the Spark single-pass engine and the generated DuckDB oracle SQL must
agree exactly. This probes the config->plan compiler across the combi-
natorial surface (column subsets, bounds, rules, thresholds) that the
hand-written example configs cannot cover.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gcp_dbt_data_engineering_spark import REPO_ROOT
from gcp_dbt_data_engineering_spark.operators.dq import (
    CUSTOMER_DQ_CONFIG,
    EVENTS_DQ_CONFIG,
    DQEngine,
    compile_oracle_sql,
)

from .oracle_harness import compare

SF = "/root/testdata/sf0.001"

_COMP_COLS = st.lists(
    st.sampled_from(["c_name", "c_acctbal", "c_mktsegment", "c_nationkey"]),
    unique=True,
    max_size=3,
)
_FORMAT = st.dictionaries(
    st.sampled_from(["c_name", "c_mktsegment"]),
    st.sampled_from(["not_empty", "length_3", "email_format"]),
    max_size=2,
)
_RANGE = st.dictionaries(
    st.sampled_from(["c_acctbal", "c_nationkey"]),
    st.fixed_dictionaries(
        {
            "min": st.one_of(
                st.none(), st.integers(min_value=-1000, max_value=100)
            ),
            "max": st.one_of(
                st.none(), st.integers(min_value=101, max_value=20000)
            ),
        }
    ),
    max_size=2,
)
_UNIQ = st.lists(
    st.sampled_from([["c_custkey"], ["c_name"], ["c_nationkey", "c_name"]]),
    unique_by=lambda c: tuple(c),
    max_size=2,
)

_CONFIG = st.fixed_dictionaries(
    {
        "tests": st.fixed_dictionaries(
            {
                "completeness": _COMP_COLS,
                "format": _FORMAT,
                "range": _RANGE,
                "uniqueness": _UNIQ,
            }
        ),
        "quality_thresholds": st.fixed_dictionaries(
            {
                "critical_columns": st.lists(
                    st.sampled_from(["c_custkey", "c_acctbal"]), max_size=2
                )
            }
        ),
    }
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(cfg=_CONFIG)
def test_random_configs_match_oracle(spark, cfg):
    config = {"table_name": "customer", **cfg}
    df = DQEngine(spark).run(config, sf_dir=SF)
    res = compare(df, compile_oracle_sql(config), SF)
    assert res["match"], (config, res)


def test_uniqueness_on_empty_slice_counts_zero_rows(spark):
    """A day with no events: the uniqueness aggregate runs over zero
    groups, and its row total must read 0, not NULL."""
    config = {**EVENTS_DQ_CONFIG, "fecha": "1999-01-01"}
    df = DQEngine(spark).run(config, sf_dir=SF)
    uniq = [r for r in df.collect() if r.test_category == "uniqueness"]
    assert len(uniq) == 2
    assert all(r.total_records == 0 and r.failed_records == 0 for r in uniq)
    res = compare(df, compile_oracle_sql(config), SF)
    assert res["match"], res


@pytest.mark.parametrize(
    "config, null_dup",
    [
        # two NULL-name customers form one duplicated NULL key group
        (
            {
                **CUSTOMER_DQ_CONFIG,
                "tests": {
                    "completeness": ["c_name"],
                    "uniqueness": [["c_name"], ["c_nationkey", "c_mktsegment"]],
                },
            },
            "uniqueness_c_name",
        ),
        # the day holding the NULL user_id and NULL event_type events
        ({**EVENTS_DQ_CONFIG, "fecha": "2024-01-10"}, None),
    ],
    ids=["customer", "events"],
)
def test_uniqueness_with_null_keys_matches_oracle(
    spark, nasty_corpus, config, null_dup
):
    """NULL keys group together in both engines, and their groups count
    toward the row total the uniqueness aggregate derives."""
    df = DQEngine(spark).run(config, sf_dir=nasty_corpus)
    rows = df.collect()
    assert len({r.total_records for r in rows}) == 1  # one row total
    if null_dup:
        assert next(r for r in rows if r.test_name == null_dup).failed_records
    res = compare(df, compile_oracle_sql(config), nasty_corpus)
    assert res["match"], res


def test_weekly_yaml_equals_dict_config(spark):
    """The weekly customer YAML template (reference's second job shape,
    full_table_scan) must produce the same results as the equivalent
    dict config — YAML and dict paths are interchangeable."""
    from gcp_dbt_data_engineering_spark.operators.dq import (
        CUSTOMER_DQ_CONFIG,
        load_job_config,
    )

    yaml_cfg = load_job_config(
        os.path.join(REPO_ROOT, "configs", "dq_customer_weekly.yaml")
    )
    assert yaml_cfg["processing"]["full_table_scan"] is True
    a = DQEngine(spark).run(yaml_cfg, sf_dir=SF)
    b = DQEngine(spark).run(CUSTOMER_DQ_CONFIG, sf_dir=SF)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_cusum_drift_oracle_and_reset_identity(spark):
    """Oracle twin for dq_cusum_drift plus the recurrence identity: the
    window-based prefix-sum/running-min form must equal the sequential
    max(0, S + dev -/+ k) recurrence computed in plain Python."""
    from gcp_dbt_data_engineering_spark.operators.dq import (
        _CUSUM_H_PM,
        _CUSUM_K_PM,
        SPECS,
    )
    from .oracle_harness import compare

    SF = "/root/testdata/sf0.01"
    spec = SPECS["dq_cusum_drift"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    rows = sorted(spec.spark(spark, SF).collect(), key=lambda r: r.day)
    daily = [(r.day, r.n) for r in rows]
    T = sum(n for _, n in daily)
    N = len(daily)
    sk, sh = _CUSUM_K_PM * T, _CUSUM_H_PM * T
    sp = sn = 0
    for (day, n), r in zip(daily, rows):
        sdev = 1000 * N * n - 1000 * T
        sp = max(0, sp + sdev - sk)
        sn = max(0, sn - sdev - sk)
        assert abs(r.cusum_pos - sp / (1000.0 * N)) < 1e-9, day
        assert abs(r.cusum_neg - sn / (1000.0 * N)) < 1e-9, day
        assert r.alarm_pos == (sp > sh)
        assert r.alarm_neg == (sn > sh)
    # the profile is discriminating: some but not most days alarm
    n_alarms = sum(1 for r in rows if r.alarm_pos or r.alarm_neg)
    assert 0 < n_alarms < len(rows) // 10


def test_psi_drift_oracle_and_injected_drift(spark):
    """Oracle twin for dq_psi_drift; numpy ground truth; and a positive
    control: skewing the current epoch toward high prices must push
    PSI from 'stable' (<0.1) to 'action' (>0.25)."""
    import math

    import pandas as pd

    from gcp_dbt_data_engineering_spark.operators.dq import (
        _PSI_BUCKET_W,
        _PSI_EPOCH,
        SPECS,
        dq_psi_drift,
    )
    from .oracle_harness import compare

    SF = "/root/testdata/sf0.01"
    spec = SPECS["dq_psi_drift"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    rows = spec.spark(spark, SF).collect()
    psi = sum(r.psi_term for r in rows)

    # numpy/pandas ground truth
    pdf = pd.read_parquet(f"{SF}/orders.parquet")
    pdf["bucket"] = (pdf.o_totalprice / _PSI_BUCKET_W).apply(math.floor)
    ref = pdf[pdf.o_orderdate < _PSI_EPOCH].groupby("bucket").size()
    cur = pdf[pdf.o_orderdate >= _PSI_EPOCH].groupby("bucket").size()
    tr, tc = ref.sum(), cur.sum()
    buckets = sorted(set(ref.index) | set(cur.index))
    nb = len(buckets)  # smoothing totals track the ACTUAL bucket count
    truth = 0.0
    for b in buckets:
        p = (ref.get(b, 0) + 1) / (tr + nb)
        q = (cur.get(b, 0) + 1) / (tc + nb)
        truth += (p - q) * math.log(p / q)
    assert abs(psi - truth) < 1e-6
    assert psi < 0.1  # synthetic epochs are stationary

    # positive control: current epoch drifts to the top half of prices
    import gcp_dbt_data_engineering_spark.operators.dq as DQ
    import pyspark.sql.functions as F

    od = spark.read.parquet(f"{SF}/orders.parquet")
    drifted = od.filter(
        (F.col("o_orderdate") < F.lit(_PSI_EPOCH).cast("timestamp"))
        | (F.col("o_totalprice") > 250_000)
    )
    drifted.createOrReplaceTempView("__psi_drifted")
    orig = DQ.load_table
    try:
        DQ.load_table = lambda sp, sf, t: (
            sp.table("__psi_drifted") if t == "orders" else orig(sp, sf, t)
        )
        drifted_psi = sum(
            r.psi_term for r in dq_psi_drift(spark, SF).collect()
        )
    finally:
        DQ.load_table = orig
    assert drifted_psi > 0.25


def test_poisson_bootstrap_weight_distribution(spark):
    """The avalanched per-(row, replicate) hash draws weights whose
    empirical frequencies match Poisson(1) — the property the CI's
    validity rests on (and the one the banded raw polyhash violated:
    a whole replicate drew weight 0 at sf0.001)."""
    import math

    import pyspark.sql.functions as F

    from gcp_dbt_data_engineering_spark.operators import texthash as th
    from gcp_dbt_data_engineering_spark.plans.stats import (
        BOOT_B,
        _boot_mix,
        _boot_weight_case,
    )

    h0 = _boot_mix(
        th.polyhash("concat('boot', CAST(id AS STRING))", "spark"),
        "spark",
    )
    hr = f"((((r + 1) * {th._A0}) % {th.P}) * h0 + r) % {th.P}"
    n = 20_000
    freq = {
        r.m: r.c
        for r in (
            spark.range(n)
            .selectExpr(f"{h0} AS h0")
            .selectExpr(
                f"explode(sequence(CAST(0 AS BIGINT), {BOOT_B - 1}))"
                " AS r",
                "h0",
            )
            .selectExpr(f"{_boot_weight_case(hr)} AS m")
            .groupBy("m")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
    }
    total = n * BOOT_B
    pmf = math.exp(-1.0)
    for k in range(4):  # k=0..3 carry 98% of the mass
        p_emp = freq.get(k, 0) / total
        assert abs(p_emp - pmf) < 0.01, (k, p_emp, pmf)
        pmf /= k + 1
    # per-replicate totals: none degenerate (the ADVICE-r6-era bug)
    per_r = (
        spark.range(n)
        .selectExpr(f"{h0} AS h0")
        .selectExpr(
            f"explode(sequence(CAST(0 AS BIGINT), {BOOT_B - 1})) AS r",
            "h0",
        )
        .selectExpr("r", f"{_boot_weight_case(hr)} AS m")
        .groupBy("r")
        .agg(F.sum("m").alias("s"))
        .collect()
    )
    assert all(r.s > 0 for r in per_r)
    # and replicate totals concentrate around n (Poisson sums)
    assert all(abs(r.s - n) < 5 * math.sqrt(n) for r in per_r)
