"""The one oracle check: its canonical form, its hash and the drift guard
of ``tools/correctness_full.py``. No Spark session is needed."""

from __future__ import annotations

import datetime
import decimal
import importlib.util
import json
import os

import duckdb

from gcp_dbt_data_engineering_spark import REPO_ROOT
from tools.correctness_full import drift_report, oracle_drift

from .oracle_harness import canon, check, result_sha


def _perfbench_result_hash():
    path = os.path.join(REPO_ROOT, "perfbench", "canon.py")
    spec = importlib.util.spec_from_file_location("perfbench_canon", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.result_hash


class _Collected:
    """Stands in for a DataFrame: ``columns`` and ``collect()``."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def test_gate_and_benchmark_hash_the_same_way():
    cols = ["z", "a", "m"]
    rows = [
        (float("nan"), None, [1, [2, 3]]),
        ({"k": [1.5, float("nan")], "b": None}, decimal.Decimal("1.50"), 0.1),
        (datetime.date(1996, 1, 2), "s", []),
    ]
    shuffled = ["m", "z", "a"]
    rows_shuffled = [(r[2], r[0], r[1]) for r in reversed(rows)]
    result_hash = _perfbench_result_hash()
    assert result_sha(canon(cols, rows)) == result_hash(cols, rows)
    assert result_sha(canon(shuffled, rows_shuffled)) == result_hash(cols, rows)


def test_canon_does_not_round():
    """Two rows that differ only in the 9th decimal are different rows."""
    assert canon(["x"], [(1.000000001,)]) != canon(["x"], [(1.000000002,)])


def test_check_is_exact_and_hashes_the_oracle_text():
    con = duckdb.connect()
    sql = "SELECT 0.3::DOUBLE AS x"
    rec = check(_Collected(["x"], [(0.1 + 0.2,)]), sql, con)
    assert rec["rows_match"] and rec["schema_match"]
    assert rec["hash_match"] is False and "first_diff" in rec
    ok = check(_Collected(["x"], [(0.3,)]), sql, con)
    assert ok["hash_match"] and "first_diff" not in ok
    assert ok["spark_sha"] == ok["oracle_sha"]
    assert ok["oracle_text_sha"] == rec["oracle_text_sha"]
    assert len(ok["oracle_text_sha"]) == 16


def test_oracle_drift_lists_changed_and_counts_unrecorded():
    previous = {
        "kept": {"oracle_text_sha": "aaaa"},
        "edited": {"oracle_text_sha": "bbbb"},
        "old_record": {"hash_match": True},
    }
    current = {
        "kept": {"oracle_text_sha": "aaaa"},
        "edited": {"oracle_text_sha": "cccc"},
        "old_record": {"oracle_text_sha": "dddd"},
        "new_spec": {"oracle_text_sha": "eeee"},
        "rows_only": {"hash_match": "rows-only"},
    }
    assert oracle_drift(previous, current) == (["edited"], 2)


def test_drift_report_names_its_baseline_or_says_it_compared_nothing(
    tmp_path,
):
    current = {"q": {"oracle_text_sha": "aaaa"}}
    fields, phrase = drift_report(None, current)
    assert fields == {
        "oracle_baseline": None,
        "oracle_text_changed": None,
        "oracle_text_unrecorded": None,
    }
    assert phrase == "oracle texts not compared"
    baseline = tmp_path / "CORRECTNESS_x.json"
    baseline.write_text(json.dumps({"specs": {"q": {"oracle_text_sha": "b"}}}))
    fields, phrase = drift_report(str(baseline), current)
    assert fields["oracle_baseline"].endswith("CORRECTNESS_x.json")
    assert fields["oracle_text_changed"] == ["q"]
    assert fields["oracle_text_unrecorded"] == 0
    assert phrase == "1 oracle texts changed"
