"""Regression net for the full-suite physical-plan audit
(tools/plan_audit.py → PLAN_AUDIT.json).

The audit proves, mechanically, the two plan properties that decide
100 TB behavior: every ``Exchange SinglePartition`` is a global-agg
funnel / provably bounded / hand-whitelisted, and every
``BroadcastNestedLoopJoin`` broadcasts a bounded side. These tests pin
the classifier's verdicts on known plans and keep the committed
artifact honest against the live spec registry.
"""

from __future__ import annotations

import json
import os
import sys

from gcp_dbt_data_engineering_spark import REPO_ROOT

sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))

from plan_audit import BNLJ_OK, SINGLE_PARTITION_OK, audit_spec  # noqa: E402

SF = "/root/testdata/sf0.01"
ARTIFACT = os.path.join(REPO_ROOT, "PLAN_AUDIT.json")


def test_global_agg_funnel_classified_fine(spark):
    """pricing_summary's single SinglePartition exchange is the
    partial→final stage of its global aggregate — a funnel, not a
    bottleneck (input = one pre-aggregated row per map task)."""
    from gcp_dbt_data_engineering_spark.plans.analytics import pricing_summary

    f = audit_spec(pricing_summary(spark, SF))
    assert f["single_part_risky"] == 0
    assert f["cartesian"] == 0 and f["rowwise_python"] == 0


def test_bounded_window_needs_whitelist(spark):
    """stats_bootstrap_ci's global rank window runs over exactly
    BOOT_B=40 rows — bounded in fact but invisible to the prover, so
    it must be flagged risky AND carry a whitelist reason."""
    from gcp_dbt_data_engineering_spark.plans.stats import stats_bootstrap_ci

    f = audit_spec(stats_bootstrap_ci(spark, SF))
    assert f["single_part_risky"] == 1
    assert "stats_bootstrap_ci" in SINGLE_PARTITION_OK
    # its 1-row × 1-row cross is proven bounded (global-agg sides)
    assert f["bnlj_bounded"] == 1 and f["bnlj_risky"] == 0


def test_literal_relation_proves_bounded(spark):
    """events_value_band_join broadcasts a literal createDataFrame
    band table (Scan ExistingRDD, no file Location) — the prover must
    recognize it as bounded without a whitelist entry."""
    from gcp_dbt_data_engineering_spark.plans.windows import (
        events_value_band_join,
    )

    f = audit_spec(events_value_band_join(spark, SF))
    assert f["bnlj_bounded"] == 1 and f["bnlj_risky"] == 0
    assert "events_value_band_join" not in BNLJ_OK


def test_star_join_all_broadcast_no_risk(spark):
    from gcp_dbt_data_engineering_spark.plans.analytics import (
        revenue_by_region,
    )

    f = audit_spec(revenue_by_region(spark, SF))
    assert f["bhj"] == 4 and f["smj"] == 0
    assert f["single_part_risky"] == 0 and f["bnlj_risky"] == 0
    assert f["pushed_scans"] >= 1


def test_committed_artifact_clean_and_current():
    """The committed PLAN_AUDIT.json must cover every live spec and
    carry zero violations — adding a spec without re-running the audit
    fails here."""
    assert os.path.exists(ARTIFACT), "run tools/plan_audit.py"
    with open(ARTIFACT) as f:
        d = json.load(f)
    import __spark_entry__ as e

    assert d["summary"]["violations"] == []
    assert d["summary"]["n_errors"] == 0
    assert d["summary"]["n_specs"] == len(e.queries())
    # every whitelist entry documents a spec that still exists and
    # still trips the prover (no stale ghosts)
    per = d["per_spec"]
    for name in d["summary"]["single_partition_whitelist"]:
        assert name in per and per[name]["single_part_risky"] > 0, name
    for name in d["summary"]["bnlj_whitelist"]:
        assert name in per and per[name]["bnlj_risky"] > 0, name
