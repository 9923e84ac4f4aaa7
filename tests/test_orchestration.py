"""Orchestration layer (DAG ordering, retries, skip-on-upstream-fail)
and the DQ threshold-verdict + notification routing."""

from __future__ import annotations

import pytest

from gcp_dbt_data_engineering_spark.operators.dq import (
    CUSTOMER_DQ_CONFIG,
    DQEngine,
    apply_thresholds,
    route_notifications,
)
from gcp_dbt_data_engineering_spark.orchestration import (
    JobSpec,
    LocalScheduler,
    daily_pipeline,
)
from gcp_dbt_data_engineering_spark.status import StatusReader


SF = "/root/testdata/sf0.001"


def test_scheduler_order_retries_and_skip():
    calls: list[str] = []
    flaky_state = {"n": 0}

    def ok():
        calls.append("a")

    def flaky():
        calls.append("b")
        flaky_state["n"] += 1
        if flaky_state["n"] == 1:
            raise RuntimeError("transient")

    def broken():
        calls.append("c")
        raise RuntimeError("always")

    def downstream():
        calls.append("d")

    res = LocalScheduler(
        [
            JobSpec("a", ok),
            JobSpec("b", flaky, depends_on=["a"], retries=1),
            JobSpec("c", broken, depends_on=["a"], retries=1),
            JobSpec("d", downstream, depends_on=["c"]),
        ]
    ).run()
    assert res["a"].status == "SUCCESS" and res["a"].attempts == 1
    assert res["b"].status == "SUCCESS" and res["b"].attempts == 2
    assert res["c"].status == "FAILED" and res["c"].attempts == 2
    assert res["d"].status == "SKIPPED" and "d" not in calls
    assert calls.index("a") < calls.index("b")


def test_scheduler_rejects_bad_graphs():
    with pytest.raises(ValueError):
        LocalScheduler([JobSpec("a", lambda: None, depends_on=["ghost"])])
    with pytest.raises(ValueError):
        LocalScheduler([JobSpec("a", lambda: None), JobSpec("a", lambda: None)])


def test_daily_pipeline_runs_profiling_before_dq(spark):
    res = LocalScheduler(daily_pipeline(SF)).run(spark=spark)
    assert {r.status for r in res.values()} == {"SUCCESS"}
    assert res["data_profiling"].result.count() > 0
    assert res["dq_customer"].result.count() > 0


def test_notify_reuses_computed_suites(spark):
    """Each DQ job materializes its suite; notify applies thresholds
    to those rows instead of re-running both suites' scans."""
    jobs = daily_pipeline(SF)
    notify = next(j for j in jobs if j.name == "dq_notify")
    inner, launched = notify.fn, []

    def counted(spark):
        reader = StatusReader(spark)
        out = inner(spark)
        launched.append(reader.read()["jobs"])
        return out

    notify.fn = counted
    res = LocalScheduler(jobs).run(spark=spark)
    assert {r.status for r in res.values()} == {"SUCCESS"}
    assert res["dq_notify"].result  # the by-design failure is delivered
    assert 0 < sum(launched) <= 2, launched


def test_suite_failing_at_run_time_fails_its_own_job(spark, monkeypatch):
    """A custom condition the guard accepts and Spark analyses, but
    that raises while it executes (an ANSI cast of a name), must fail
    the DQ job that owns the suite, after its retry, and skip notify;
    a lazily returned suite would pass its job and fail in notify."""
    from gcp_dbt_data_engineering_spark.operators import dq

    bad = {
        **CUSTOMER_DQ_CONFIG,
        "tests": {
            **CUSTOMER_DQ_CONFIG["tests"],
            "custom_sql": [
                {"test_name": "name_is_int",
                 "sql_condition": "CAST(c_name AS INT) > 0"}
            ],
        },
    }
    DQEngine(spark).run(bad, sf_dir=SF).schema  # analyses cleanly
    monkeypatch.setattr(dq, "CUSTOMER_DQ_CONFIG", bad)
    res = LocalScheduler(daily_pipeline(SF)).run(spark=spark)
    assert res["dq_customer"].status == "FAILED"
    assert res["dq_customer"].attempts == 2
    assert "CAST" in res["dq_customer"].error.upper()
    assert res["dq_events"].status == "SUCCESS"
    assert res["dq_notify"].status == "SKIPPED"


def test_thresholds_and_notifications(spark):
    results = DQEngine(spark).run(CUSTOMER_DQ_CONFIG, sf_dir=SF)
    cfg = {
        **CUSTOMER_DQ_CONFIG,
        "notifications": {
            "on_failure": ["oncall@example.com"],
            "on_warning": ["team@example.com"],
        },
    }
    verdicts = apply_thresholds(results, cfg)
    rows = [r.asDict() for r in verdicts.collect()]
    assert {r["verdict"] for r in rows} <= {"PASS", "WARN", "FAIL", "SKIPPED"}
    # zero-failure checks must stay PASS; failing checks must not be PASS
    for r in rows:
        if r["status"] == "PASS":
            assert r["verdict"] == "PASS"
        if r["status"] == "FAIL":
            assert r["verdict"] in ("WARN", "FAIL")
    payloads = route_notifications(rows, cfg)
    levels = {p["level"] for p in payloads}
    if any(r["verdict"] == "FAIL" for r in rows):
        assert "failure" in levels
    for p in payloads:
        assert p["recipients"] and p["tests"]


def test_notification_delivery_end_to_end(spark, tmp_path):
    """A failing DQ check must produce a delivered failure payload
    through the pipeline's notify job — both the in-memory LogSender
    and the durable FileSender paths."""
    import json

    from gcp_dbt_data_engineering_spark.operators.dq import (
        FileSender,
        LogSender,
    )

    sender = LogSender()
    res = LocalScheduler(daily_pipeline(SF, sender=sender)).run(spark=spark)
    assert res["dq_notify"].status == "SUCCESS"
    # customer config plants a by-design failing format check
    assert any(p["level"] == "failure" for p in sender.sent)
    assert all(p["recipients"] for p in sender.sent)
    assert res["dq_notify"].result == sender.sent

    path = str(tmp_path / "notifications.jsonl")
    fs = FileSender(path)
    for p in sender.sent:
        fs.send(p)
    lines = [json.loads(x) for x in open(path)]
    assert lines == sender.sent


def test_cron_next_and_due_jobs():
    from datetime import datetime

    from gcp_dbt_data_engineering_spark.orchestration import (
        JobSpec,
        cron_next,
        due_jobs,
    )

    after = datetime(2024, 1, 15, 8, 30)  # a Monday
    # daily at 09:00 (the reference's DQ schedule)
    assert cron_next("0 9 * * *", after) == datetime(2024, 1, 15, 9, 0)
    # already past today's fire -> tomorrow
    assert cron_next("0 6 * * *", after) == datetime(2024, 1, 16, 6, 0)
    # weekly Sunday 02:00 (the weekly full-scan template)
    assert cron_next("0 2 * * 0", after) == datetime(2024, 1, 21, 2, 0)
    # every 15 minutes
    assert cron_next("*/15 * * * *", after) == datetime(2024, 1, 15, 8, 45)
    # comma list + month restriction
    assert cron_next("0 0 1 3,6 *", after) == datetime(2024, 3, 1, 0, 0)
    # vixie OR: dom 20 OR friday; next is Friday Jan 19 < Jan 20
    assert cron_next("0 0 20 * 5", after) == datetime(2024, 1, 19, 0, 0)
    # a scheduler tick 06:00-10:00 picks profiling (07) and DQ (09),
    # not the 10:30 notifier
    jobs = [
        JobSpec("prof", lambda: None, schedule="0 7 * * *"),
        JobSpec("dq", lambda: None, schedule="0 9 * * *"),
        JobSpec("notify", lambda: None, schedule="30 10 * * *"),
    ]
    got = [
        j.name
        for j in due_jobs(
            jobs, datetime(2024, 1, 15, 6, 0), datetime(2024, 1, 15, 10, 0)
        )
    ]
    assert got == ["prof", "dq"]


def test_due_jobs_skips_unsatisfiable_schedule():
    """One malformed/unsatisfiable JobSpec (Feb 31 never fires;
    cron_next raises after its bounded one-year scan) must not abort
    the scheduler tick — the job is simply never due."""
    from datetime import datetime

    from gcp_dbt_data_engineering_spark.orchestration import due_jobs

    jobs = [
        JobSpec("bad", lambda: None, schedule="0 0 31 2 *"),
        JobSpec("good", lambda: None, schedule="0 7 * * *"),
    ]
    got = [
        j.name
        for j in due_jobs(
            jobs, datetime(2024, 1, 15, 6, 0), datetime(2024, 1, 15, 10, 0)
        )
    ]
    assert got == ["good"]


def test_smtp_sender_builds_real_messages():
    """The email transport the reference configures: payloads become
    RFC-5322 messages with routed recipients and a severity subject;
    delivery goes through the injectable transport so the message
    construction is exercised without a network."""
    from gcp_dbt_data_engineering_spark.operators.dq import SmtpSender

    delivered = []
    s = SmtpSender(
        from_addr="dq@example.org",
        transport=lambda f, to, msg: delivered.append((f, to, msg)),
    )
    s.send(
        {
            "recipients": ["data-team@team.com", "tx@team.com"],
            "level": "failure",
            "table": "raw.transactions",
            "tests": ["completeness_rut", "uniqueness_rut_code"],
        }
    )
    s.send({"recipients": [], "level": "warning", "tests": []})  # no-op
    assert len(delivered) == 1
    frm, to, raw = delivered[0]
    assert frm == "dq@example.org"
    assert to == ["data-team@team.com", "tx@team.com"]
    text = raw.decode()
    assert "Subject: [DQ FAILURE] raw.transactions: 2 test(s) failure" in text
    assert "completeness_rut" in text and "uniqueness_rut_code" in text
    assert "From: dq@example.org" in text
    assert "To: data-team@team.com, tx@team.com" in text
