"""Round-6 additions vs the DuckDB oracle at sf0.01, plus semantic
checks: PQ-ADC recall against the exact brute-force baseline,
boilerplate-filter sensitivity to the replica clique, and classifier
verdict accounting."""

from __future__ import annotations

import pytest

from gcp_dbt_data_engineering_spark.operators.pipeline import (
    SPECS as PIPELINE_SPECS,
)
from gcp_dbt_data_engineering_spark.operators.similarity import (
    SPECS as SIM_SPECS,
    TOP_K,
)
from gcp_dbt_data_engineering_spark.operators.text import (
    SPECS as TEXT_SPECS,
)

from .oracle_harness import compare

SF = "/root/testdata/sf0.01"

NEW = {
    "boilerplate_chunk_filter": PIPELINE_SPECS,
    "text_quality_classifier": TEXT_SPECS,
    "similarity_pq_adc": SIM_SPECS,
}


@pytest.mark.parametrize("name", sorted(NEW))
def test_new_op_oracle_sf001(spark, name):
    spec = NEW[name][name]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res


def test_pq_adc_recall_vs_bruteforce(spark):
    """4-bit uniform PQ must stay a usable ANN: recall@10 vs the exact
    cosine top-10 well above chance (N≈500 ⇒ chance ≈ 2%)."""
    bf = {
        (r.query_id, r.neighbor_id)
        for r in SIM_SPECS["similarity_topk_cosine"].spark(spark, SF).collect()
    }
    pq_rows = SIM_SPECS["similarity_pq_adc"].spark(spark, SF).collect()
    pq = {(r.query_id, r.neighbor_id) for r in pq_rows}
    assert len(pq & bf) / len(bf) >= 0.3
    # shape: every query returns a full dense top-k
    by_q: dict[int, list] = {}
    for r in pq_rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, TOP_K + 1)) for v in by_q.values())


def test_boilerplate_flags_replica_chunks(spark):
    """The corpus carries replica docs (the dedup fixtures); their
    shared chunks must surface as boilerplate somewhere, and the audit
    arithmetic must be internally consistent."""
    rows = (
        PIPELINE_SPECS["boilerplate_chunk_filter"].spark(spark, SF).collect()
    )
    assert sum(r.boiler_chunks for r in rows) > 0
    for r in rows:
        assert 0 <= r.boiler_chunks <= r.total_chunks
        assert r.docs_affected <= r.n_docs
        assert abs(
            r.boiler_chunk_share - r.boiler_chunks / r.total_chunks
        ) < 1e-12


def test_classifier_partitions_all_docs(spark):
    """keep/drop verdicts partition the non-empty docs; keep-side mean
    score is positive, drop-side non-positive."""
    rows = (
        TEXT_SPECS["text_quality_classifier"].spark(spark, SF).collect()
    )
    total = sum(r.n_docs for r in rows)
    assert total == 500  # sf0.01: all docs tokenize non-empty
    for r in rows:
        if r.verdict == "keep":
            assert r.mean_score > 0
        else:
            assert r.mean_score <= 0

# --- round-6 fourth wave: DSIR selection + end-to-end curation funnel ---

WAVE4 = ("dsir_importance_selection", "curate_corpus_funnel")


@pytest.mark.parametrize("name", WAVE4)
def test_wave4_oracle_sf001(spark, name):
    spec = PIPELINE_SPECS[name]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res


def test_dsir_selects_target_like_docs(spark):
    """The selected pool docs must beat the pool average on benchmark
    phrase overlap: their mean log importance weight is strictly above
    the weight of the K-th percentile boundary by construction (sorted
    output), and no selected doc comes from a target source."""
    from gcp_dbt_data_engineering_spark.operators.pipeline import (
        BENCH_SOURCES,
        DSIR_K,
    )

    rows = (
        PIPELINE_SPECS["dsir_importance_selection"].spark(spark, SF).collect()
    )
    assert len(rows) == DSIR_K
    assert all(r.source not in BENCH_SOURCES for r in rows)
    ws = [r.logweight for r in rows]
    # returned in descending weight order (doc_id tiebreak)
    assert all(a >= b for a, b in zip(ws, ws[1:]))
    assert all(r.n_tokens > 0 for r in rows)


def test_curate_funnel_monotone(spark):
    """Each stage can only shrink its stratum: raw >= quality >= dedup
    >= decontam >= sampled, with every language present."""
    rows = (
        PIPELINE_SPECS["curate_corpus_funnel"].spark(spark, SF).collect()
    )
    assert {r.lang for r in rows} == {"en", "es", "de", "fr", "zh"}
    for r in rows:
        assert (
            r.n_raw >= r.n_quality >= r.n_dedup
            >= r.n_decontam >= r.n_sampled
        )
        assert r.n_sampled >= 0
    assert sum(r.n_raw for r in rows) == 500


def test_curate_funnel_dedup_fires_on_duplicates(spark):
    """Inject exact duplicate texts and check the dedup stage drops
    them (the base sf0.01 corpus has no exact dups, so this is the
    stage's only executable evidence)."""
    import pyspark.sql.functions as F

    from gcp_dbt_data_engineering_spark.operators.pipeline import (
        curate_corpus_funnel,
    )
    from gcp_dbt_data_engineering_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    dup = docs.limit(20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    docs.unionByName(dup).createOrReplaceTempView("__curate_dup_docs")
    base = {
        r.lang: r
        for r in curate_corpus_funnel(spark, SF).collect()
    }
    import gcp_dbt_data_engineering_spark.operators.pipeline as P

    orig = P.load_table
    try:
        P.load_table = lambda sp, sf, t: (
            sp.table("__curate_dup_docs") if t == "documents" else orig(sp, sf, t)
        )
        rows = {r.lang: r for r in curate_corpus_funnel(spark, SF).collect()}
    finally:
        P.load_table = orig
    # every injected duplicate that passes quality must die in dedup:
    # per language, n_dedup is unchanged while n_raw grew
    for lang, r in rows.items():
        b = base[lang]
        assert r.n_raw >= b.n_raw
        assert r.n_dedup == b.n_dedup


def test_repeated_spans_oracle_and_boundaries(spark):
    """Oracle twin for dedup_repeated_spans, plus exact span-boundary
    recovery on a planted duplicate: a run of R >= L shared tokens
    between two docs must merge into ONE span of exactly R tokens."""
    from gcp_dbt_data_engineering_spark.operators.dedup import (
        SPAN_L,
        SPECS as DEDUP_SPECS,
        dedup_repeated_spans,
    )

    spec = DEDUP_SPECS["dedup_repeated_spans"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    # planted fixture: two docs share a 20-token run, padded with
    # unique tokens so nothing else repeats
    run = " ".join(f"shared{i}" for i in range(SPAN_L + 5))
    rows = [
        (1, f"alpha1 alpha2 alpha3 {run} omega1 omega2", "en", "s", 1),
        (2, f"beta1 beta2 {run} gamma1 gamma2 gamma3", "en", "s", 1),
        (3, "plain text with no repeats at all here", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("__span_docs")
    import gcp_dbt_data_engineering_spark.operators.dedup as D

    orig = D.load_table
    try:
        D.load_table = lambda sp, sf, t: (
            sp.table("__span_docs") if t == "documents" else orig(sp, sf, t)
        )
        out = {r.lang: r for r in dedup_repeated_spans(spark, SF).collect()}
    finally:
        D.load_table = orig
    r = out["en"]
    assert r.docs_with_spans == 2
    assert r.n_spans == 2
    # each doc's span covers exactly the planted run (SPAN_L + 5 tokens)
    assert r.dup_tokens == 2 * (SPAN_L + 5)


def test_token_budget_select_matches_greedy_prefix(spark):
    """Oracle twin plus ground truth: the histogram-threshold plan must
    reproduce the naive greedy prefix of the (q DESC, doc_id ASC)
    order exactly, per language."""
    import pandas as pd
    import re as _re

    from gcp_dbt_data_engineering_spark.operators.pipeline import (
        BUDGET_TOKENS,
        SPECS as PS,
    )

    spec = PS["token_budget_select"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    rows = {r.lang: r for r in spec.spark(spark, SF).collect()}
    pdf = pd.read_parquet(f"{SF}/documents.parquet")
    toks = pdf.text.str.lower().map(
        lambda t: _re.findall(r"[a-z0-9]+", t)
    )
    pdf["n_tok"] = toks.map(len)
    pdf["q"] = [
        (len(set(ws)) * 1000) // len(ws) if ws else 0 for ws in toks
    ]
    for lang, grp in pdf.groupby("lang"):
        g = grp.sort_values(["q", "doc_id"], ascending=[False, True])
        # the operator's rule is a strict PREFIX: stop at the first
        # doc that would overflow (not greedy-skip)
        cum = 0
        kept_docs = kept_toks = 0
        for _, r in g.iterrows():
            if cum + r.n_tok > BUDGET_TOKENS:
                break
            cum += r.n_tok
            kept_docs += 1
            kept_toks += r.n_tok
        out = rows[lang]
        assert (out.docs_kept, out.tokens_kept) == (kept_docs, kept_toks)
        assert out.docs_total == len(grp)


def test_weighted_priority_sample_oracle_and_bias(spark):
    """Oracle twin for sample_weighted_priority, plus the E-S property
    the op exists for: sampling is size-biased (mean n_chars of the
    k=100 winners exceeds the corpus mean) and deterministic across
    re-runs / repartitionings."""
    from gcp_dbt_data_engineering_spark.operators.pipeline import ES_K

    spec = PIPELINE_SPECS["sample_weighted_priority"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    rows = spec.spark(spark, SF).collect()
    assert len(rows) == ES_K
    assert len({r.doc_id for r in rows}) == ES_K  # w/o replacement
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus_mean = docs.selectExpr("avg(n_chars) AS m").collect()[0].m
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean  # weight = n_chars biases up
    # rerun-stability: same ids from a differently-partitioned input
    again = spec.spark(spark, SF).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in rows}


def test_domain_cap_oracle_and_cap_semantics(spark):
    """Oracle twin for domain_cap_downsample; every domain keeps
    min(n_docs, CAP); both the map-side (under-cap) and windowed
    (over-cap) branches are exercised by the fixture."""
    from gcp_dbt_data_engineering_spark.operators.pipeline import (
        DOMAIN_CAP,
        domain_cap_downsample,
    )

    spec = PIPELINE_SPECS["domain_cap_downsample"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    rows = domain_cap_downsample(spark, SF).collect()
    assert all(r.n_kept == min(r.n_docs, DOMAIN_CAP) for r in rows)
    assert any(r.n_docs > DOMAIN_CAP for r in rows)   # window branch
    assert any(r.n_docs <= DOMAIN_CAP for r in rows)  # map-side branch
    # totals reconcile with the raw corpus
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()


def test_ngram_novelty_oracle_and_planted_template(spark, tmp_path):
    """Oracle twin for text_ngram_novelty; a planted pair of identical
    docs must drive both their novelty ratios to 0 while a unique doc
    keeps ratio 1."""
    from gcp_dbt_data_engineering_spark.operators.text import (
        SPECS as TSPECS,
        text_ngram_novelty,
    )

    spec = TSPECS["text_ngram_novelty"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    # synthetic corpus: docs 1,2 identical; doc 3 disjoint
    d = tmp_path / "docs"
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "en", "s", 30),
            (2, "alpha beta gamma delta epsilon", "en", "s", 30),
            (3, "zeta eta theta iota kappa", "en", "s", 25),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    rows = {r.doc_id: r for r in text_ngram_novelty(spark, str(d)).collect()}
    assert rows[1].novelty_ratio == 0.0
    assert rows[2].novelty_ratio == 0.0
    assert rows[3].novelty_ratio == 1.0


def test_seasonal_baseline_oracle_and_weekday_semantics(spark):
    """Oracle twin for events_seasonal_baseline; weekday index is the
    documented days-since-Monday mod 7; per-weekday residuals sum to
    zero exactly (decomposition identity); alarms are discriminating."""
    import datetime

    from gcp_dbt_data_engineering_spark.operators.dq import SPECS as DQS

    spec = DQS["events_seasonal_baseline"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    rows = spec.spark(spark, SF).collect()
    for r in rows:
        d = datetime.date.fromisoformat(r.day)
        assert r.dow == d.weekday()  # 0=Monday, matches the anchor
    # residual identity: sum over a weekday of (n*cnt - sum) == 0
    by_dow: dict[int, int] = {}
    cnt_by_dow: dict[int, int] = {}
    for r in rows:
        cnt_by_dow[r.dow] = cnt_by_dow.get(r.dow, 0) + 1
    for r in rows:
        resid = r.n_events * cnt_by_dow[r.dow] - sum(
            x.n_events for x in rows if x.dow == r.dow
        )
        by_dow[r.dow] = by_dow.get(r.dow, 0) + resid
    assert all(v == 0 for v in by_dow.values())
    n_alarms = sum(1 for r in rows if r.alarm)
    assert 0 < n_alarms < len(rows) // 2


def test_bootstrap_ci_oracle_and_statistics(spark):
    """Oracle twin for stats_bootstrap_ci; the interval brackets the
    point estimate, is rerun-stable, and its width is in the CLT
    ballpark (1x-10x of 2*1.96*sd/sqrt(n) — loose band, catches a
    degenerate or wildly-miscalibrated resampler)."""
    from gcp_dbt_data_engineering_spark.plans.stats import (
        SPECS as SSPECS,
    )

    spec = SSPECS["stats_bootstrap_ci"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    row = spec.spark(spark, SF).collect()[0]
    assert row.ci_lo < row.point_mean < row.ci_hi
    od = spark.read.parquet(f"{SF}/orders.parquet")
    import math

    stats = od.selectExpr(
        "avg(o_totalprice) AS m",
        "stddev_samp(o_totalprice) AS sd",
        "count(*) AS n",
    ).collect()[0]
    clt = 2 * 1.96 * stats.sd / math.sqrt(stats.n)
    width = row.ci_hi - row.ci_lo
    assert 0.5 * clt < width < 10 * clt
    again = spec.spark(spark, SF).collect()[0]
    assert (again.ci_lo, again.ci_hi) == (row.ci_lo, row.ci_hi)


def test_basket_affinity_oracle_and_apriori_identities(spark):
    """Oracle twin for basket_part_affinity; support/confidence/lift
    identities hold (confidence = support/n_a, lift symmetric in a/b
    up to the marginals, lift > 1 for every reported pair on this
    corpus would be suspicious — assert a mix is possible but the
    arithmetic is exact)."""
    from gcp_dbt_data_engineering_spark.plans.stats import (
        BASKET_MIN_SUPPORT,
        BASKET_TOP_K,
        SPECS as SSPECS,
    )

    spec = SSPECS["basket_part_affinity"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    rows = spec.spark(spark, SF).collect()
    assert 0 < len(rows) <= BASKET_TOP_K
    n_orders = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    for r in rows:
        assert r.part_a < r.part_b
        assert r.pair_support >= BASKET_MIN_SUPPORT
        assert r.pair_support <= min(r.n_a, r.n_b)
        assert r.confidence_a_b == r.pair_support / r.n_a
        assert r.lift == (r.pair_support * n_orders) / (r.n_a * r.n_b)


def test_gini_oracle_and_inequality_semantics(spark):
    """Oracle twin for customer_revenue_gini; G in [0, 1); a planted
    perfectly-equal corpus gives G == 0 and a winner-takes-all corpus
    approaches 1 - 1/n (the finite-sample maximum)."""
    from gcp_dbt_data_engineering_spark.plans.stats import (
        SPECS as SSPECS,
        customer_revenue_gini,
    )

    spec = SSPECS["customer_revenue_gini"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    row = spec.spark(spark, SF).collect()[0]
    assert 0.0 < row.gini < 1.0

    import gcp_dbt_data_engineering_spark.plans.stats as S

    def with_orders(rows, schema, fn):
        df = spark.createDataFrame(rows, schema)
        df.createOrReplaceTempView("__gini_orders")
        orig = S.load_table
        S.load_table = lambda sp, sf, t: (
            sp.table("__gini_orders") if t == "orders"
            else orig(sp, sf, t)
        )
        try:
            return fn()
        finally:
            S.load_table = orig

    schema = "o_custkey long, o_totalprice double"
    equal = [(i, 100.0) for i in range(1, 51)]
    g0 = with_orders(
        equal, schema,
        lambda: customer_revenue_gini(spark, SF).collect()[0].gini,
    )
    assert g0 == 0.0
    skew = [(i, 0.01) for i in range(1, 50)] + [(50, 1_000_000.0)]
    g1 = with_orders(
        skew, schema,
        lambda: customer_revenue_gini(spark, SF).collect()[0].gini,
    )
    assert g1 > 0.95


def test_pmi_oracle_and_collocation_identities(spark):
    """Oracle twin for text_pmi_cooccurrence; PMI arithmetic identities
    hold and the vocabulary cap is honored."""
    import math

    from gcp_dbt_data_engineering_spark.operators.text import (
        PMI_MIN_CO,
        PMI_TOP_K,
        SPECS as TSPECS,
    )

    spec = TSPECS["text_pmi_cooccurrence"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    rows = spec.spark(spark, SF).collect()
    assert 0 < len(rows) <= PMI_TOP_K
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    for r in rows:
        assert r.word_a < r.word_b
        assert r.n_ab >= PMI_MIN_CO
        assert r.n_ab <= min(r.n_a, r.n_b)
        truth = math.log(r.n_ab * n_docs / (r.n_a * r.n_b))
        assert abs(r.pmi - truth) < 1e-8  # one DECIMAL(28,9) rounding


def test_ewma_oracle_and_planted_burst(spark):
    """Oracle twin for events_ewma_volume; the scaled-integer kernel
    equals the float EWMA to kernel-truncation accuracy; a planted
    5x volume day must raise the burst flag (and only it)."""
    from gcp_dbt_data_engineering_spark.operators.dq import (
        SPECS as DQS,
        events_ewma_volume,
    )

    spec = DQS["events_ewma_volume"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    rows = sorted(spec.spark(spark, SF).collect(), key=lambda r: r.day)
    # float cross-check (kernel truncated at 16 lags -> ~2^-16 tail)
    ns = [r.n_events for r in rows]
    for i, r in enumerate(rows):
        truth = sum(
            ns[i - k] * 2.0 ** -(k + 1) for k in range(min(i + 1, 16))
        )
        assert abs(r.ewma - truth) < 1e-9
    assert not any(r.burst for r in rows)  # stationary corpus

    # positive control: one day at 5x volume
    import gcp_dbt_data_engineering_spark.operators.dq as DQ
    import pyspark.sql.functions as F

    ev = spark.read.parquet(f"{SF}/events.parquet")
    spike_day = rows[10].day
    boosted = ev.unionByName(
        ev.filter(F.expr(f"CAST(ts AS DATE) = DATE '{spike_day}'"))
        .limit(10**9)
        .crossJoin(spark.range(4))
        .drop("id")
    )
    boosted.createOrReplaceTempView("__ewma_boosted")
    orig = DQ.load_table
    try:
        DQ.load_table = lambda sp, sf, t: (
            sp.table("__ewma_boosted") if t == "events"
            else orig(sp, sf, t)
        )
        rows2 = {r.day: r for r in events_ewma_volume(spark, SF).collect()}
    finally:
        DQ.load_table = orig
    assert rows2[spike_day].burst
    later = [r for d, r in rows2.items() if d > spike_day]
    assert sum(1 for r in later if r.burst) == 0  # decay absorbs it


def test_cohort_ltv_oracle_and_matrix_identities(spark):
    """Oracle twin for orders_cohort_ltv; the matrix reconciles with
    the raw table: total revenue and per-cohort month-0 activity match
    first-order facts."""
    from gcp_dbt_data_engineering_spark.plans.stats import (
        SPECS as SSPECS,
    )

    spec = SSPECS["orders_cohort_ltv"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    rows = spec.spark(spark, SF).collect()
    od = spark.read.parquet(f"{SF}/orders.parquet")
    total = float(
        od.selectExpr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS DOUBLE) t"
        ).collect()[0].t
    )
    # float sum over 1.8k cohort cells: allow accumulation ulps
    assert abs(sum(r.revenue for r in rows) - total) < 1e-4
    assert all(r.months_since >= 0 for r in rows)
    # month 0 exists for every cohort (a cohort is BORN with activity)
    cohorts = {r.cohort_month for r in rows}
    m0 = {r.cohort_month for r in rows if r.months_since == 0}
    assert cohorts == m0


def test_runs_test_oracle_and_controls(spark):
    """Oracle twin for dq_runs_test; a planted strictly-alternating
    series maximizes runs (z >> 1.96) and a monotone series minimizes
    them (z << -1.96); the stationary corpus is not flagged."""
    from gcp_dbt_data_engineering_spark.plans.stats import (
        SPECS as SSPECS,
        dq_runs_test,
    )

    spec = SSPECS["dq_runs_test"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res
    base = spec.spark(spark, SF).collect()[0]
    assert not base.nonrandom  # stationary synthetic corpus

    import datetime

    import gcp_dbt_data_engineering_spark.plans.stats as S

    def with_events(counts, fn):
        rows = []
        eid = 0
        for i, c in enumerate(counts):
            ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(i)
            for _ in range(c):
                rows.append((eid, ts))
                eid += 1
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        df.createOrReplaceTempView("__runs_events")
        orig = S.load_table
        S.load_table = lambda sp, sf, t: (
            sp.table("__runs_events") if t == "events"
            else orig(sp, sf, t)
        )
        try:
            return fn()
        finally:
            S.load_table = orig

    zig = [3 if i % 2 else 1 for i in range(40)]  # alternating
    r = with_events(zig, lambda: dq_runs_test(spark, SF).collect()[0])
    assert r.nonrandom and r.z > 1.96
    mono = list(range(1, 41))  # strictly increasing: ONE run
    r2 = with_events(mono, lambda: dq_runs_test(spark, SF).collect()[0])
    # one-sided series: variance degenerates, z undefined, trivially
    # nonrandom
    assert r2.n_runs == 1 and r2.nonrandom and r2.z is None


def test_compact_small_files_oracle_and_layout(spark):
    """Oracle twin for compact_small_files; the rewrite really
    compacts (fragmented shard count -> ceil(rows/target) files on
    disk) and preserves content exactly."""
    import glob
    import os

    from gcp_dbt_data_engineering_spark.plans.layout import (
        ART,
        COMPACT_ROWS_PER_FILE,
        COMPACT_SHARDS,
        SPECS as LSPECS,
    )
    from gcp_dbt_data_engineering_spark.sources.registry import source_key

    spec = LSPECS["compact_small_files"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    # The r8 staleness fix (22bce61) keyed the layout dirs on the
    # source's mtime+size (source_key(sf, 'orders')) and e63fa4d made
    # the compacted output per-PID; this glob kept the pre-r8 paths and
    # only stayed green while pre-r8 leftover dirs lingered under
    # .artifacts/ — a fresh checkout exposed it (r11 inherited-state
    # fix). The spec runs in THIS process, so its compacted dir
    # carries our pid.
    frag_dir = f"{ART}/fragmented_orders@{source_key(SF, 'orders')}"
    comp_dir = f"{frag_dir}_compacted_orders-{os.getpid()}"
    frag = glob.glob(f"{frag_dir}/*.parquet")
    comp = glob.glob(f"{comp_dir}/part-*.parquet")
    assert len(frag) == COMPACT_SHARDS
    n = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert len(comp) == max(1, -(-n // COMPACT_ROWS_PER_FILE))
    assert len(comp) < len(frag)
    # content identity beyond the checksum: full anti-join is empty
    a = spark.read.parquet(comp_dir)
    b = spark.read.parquet(f"{SF}/orders.parquet")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_chi2_oracle_and_scipy_free_controls(spark):
    """Oracle twin for dq_chi2_independence; statistic matches the
    textbook O/E formulation in Python; a planted dependent table
    (status fully determined by priority) flips the verdict."""
    from gcp_dbt_data_engineering_spark.plans.stats import (
        SPECS as SSPECS,
        dq_chi2_independence,
    )

    spec = SSPECS["dq_chi2_independence"]
    res = compare(spec.spark(spark, SF), spec.oracle, SF)
    assert res["match"], res

    row = spec.spark(spark, SF).collect()[0]
    # python ground truth from the raw contingency table
    od = spark.read.parquet(f"{SF}/orders.parquet")
    cells = {
        (r.p, r.s): r.o
        for r in od.selectExpr(
            "o_orderpriority AS p", "o_orderstatus AS s"
        ).groupBy("p", "s").count().withColumnRenamed("count", "o")
        .collect()
    }
    ps = sorted({p for p, _ in cells})
    ss = sorted({s for _, s in cells})
    n = sum(cells.values())
    chi2 = 0.0
    for p in ps:
        for s in ss:
            o = cells.get((p, s), 0)
            e = sum(cells.get((p, x), 0) for x in ss) * sum(
                cells.get((y, s), 0) for y in ps
            ) / n
            if e:
                chi2 += (o - e) ** 2 / e
    assert abs(row.chi2 - chi2) < 1e-6
    assert not row.dependent  # synthetic dims are independent

    # positive control: status a deterministic function of priority
    import gcp_dbt_data_engineering_spark.plans.stats as S
    import pyspark.sql.functions as F

    dep = od.withColumn(
        "o_orderstatus",
        F.expr("CASE WHEN o_orderpriority < '3' THEN 'F' ELSE 'O' END"),
    )
    dep.createOrReplaceTempView("__chi2_dep")
    orig = S.load_table
    try:
        S.load_table = lambda sp, sf, t: (
            sp.table("__chi2_dep") if t == "orders" else orig(sp, sf, t)
        )
        r2 = dq_chi2_independence(spark, SF).collect()[0]
    finally:
        S.load_table = orig
    assert r2.dependent and r2.chi2 > 1000

    # ADVICE r7 densification control: delete every ('1-URGENT', 'F')
    # order so one cell of the observed grid is EMPTY. The dense grid
    # must still carry it (n_cells = |P| x |S|), its R*C/N expected
    # term must enter the statistic, and dof must come from the
    # OBSERVED distinct counts, not a hardcoded 8.
    sparse = od.filter(
        "NOT (o_orderpriority = '1-URGENT' AND o_orderstatus = 'F')"
    )
    sparse.createOrReplaceTempView("__chi2_sparse")
    try:
        S.load_table = lambda sp, sf, t: (
            sp.table("__chi2_sparse") if t == "orders" else orig(sp, sf, t)
        )
        r3 = dq_chi2_independence(spark, SF).collect()[0]
    finally:
        S.load_table = orig
    cells3 = {
        (r.p, r.s): r.o
        for r in sparse.selectExpr(
            "o_orderpriority AS p", "o_orderstatus AS s"
        ).groupBy("p", "s").count().withColumnRenamed("count", "o")
        .collect()
    }
    ps3 = sorted({p for p, _ in cells3})
    ss3 = sorted({s for _, s in cells3})
    assert r3.n_cells == len(ps3) * len(ss3) > len(cells3)
    assert r3.dof == (len(ps3) - 1) * (len(ss3) - 1)
    n3 = sum(cells3.values())
    chi3 = 0.0
    for p in ps3:
        for s in ss3:
            o = cells3.get((p, s), 0)
            e = sum(cells3.get((p, x), 0) for x in ss3) * sum(
                cells3.get((y, s), 0) for y in ps3
            ) / n3
            if e:
                chi3 += (o - e) ** 2 / e
    assert abs(r3.chi2 - chi3) < 1e-6
