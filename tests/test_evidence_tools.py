"""Regression pins for the evidence tooling + lock fixes of round 10.

- ``tools/ann_candidates.merge_into``: VERDICT r9 item 1 — the audit
  tool overwrote ANN_CANDIDATES.json per invocation, so a partial rerun
  silently dropped every scale factor it did not re-measure (the
  committed artifact lost sf0.1/sf1/sf100 history). The merge is now a
  real code path; these tests pin it.
- ``plans.models._table_lock`` stale-break: ADVICE r9 — a bare
  rmdir+retry let two waiters both judge one lock stale and end up as
  two concurrent holders. The rename-to-tombstone break admits exactly
  one winner; the mutual-exclusion invariant is asserted under a real
  thread race against a pre-staled lock.
- ``tools/ann_recall.py`` / ``tools/ann_candidates.py`` call the
  similarity specs' own search steps with the index they build; the
  last test pins that they still measure the spec.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import pytest

from gcp_dbt_data_engineering_spark import REPO_ROOT

sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))


@pytest.fixture()
def merge_into():
    from ann_candidates import merge_into as fn

    return fn


def test_ann_candidates_merge_keeps_unmeasured_sfs(tmp_path, merge_into):
    """A partial rerun must UPDATE the artifact, never truncate it:
    untouched SFs survive, re-measured SFs are replaced, the note is
    refreshed."""
    path = str(tmp_path / "ANN_CANDIDATES.json")
    with open(path, "w") as f:
        json.dump(
            {"sf1": {"n_vectors": 20000}, "sf100": {"n_vectors": 2000000},
             "note": "old"},
            f,
        )
    merged = merge_into(
        path, {"sf1": {"n_vectors": 99}, "sf0.1": {"n_vectors": 2000},
               "note": "new"}
    )
    assert merged["sf100"] == {"n_vectors": 2000000}  # survived
    assert merged["sf1"] == {"n_vectors": 99}  # replaced
    assert merged["sf0.1"] == {"n_vectors": 2000}  # added
    assert merged["note"] == "new"


def test_write_merged_reads_before_truncating(tmp_path):
    """The WRITE path, not just the merge function: ``json.dump(
    merge_into(path, out), open(path, 'w'))`` truncates the file
    before merge_into reads it — the exact overwrite bug again, one
    layer up (caught live in r10: the first checkpoint emptied the
    committed sf10 record). write_merged must read first."""
    from ann_candidates import write_merged

    path = str(tmp_path / "ANN_CANDIDATES.json")
    with open(path, "w") as f:
        json.dump({"sf10": {"n_vectors": 200000}}, f)
    merged = write_merged(path, {"sf1": {"n_vectors": 20000}})
    on_disk = json.load(open(path))
    assert merged == on_disk
    assert on_disk["sf10"] == {"n_vectors": 200000}  # survived the write
    assert on_disk["sf1"] == {"n_vectors": 20000}


def test_ann_candidates_merge_fresh_and_corrupt(tmp_path, merge_into):
    """First run (no artifact) and a torn partial write both degrade to
    'start fresh with this run's records' — never a crash that loses
    the in-memory measurements of a multi-hour run."""
    absent = str(tmp_path / "absent.json")
    assert merge_into(absent, {"sf10": {"n_vectors": 1}}) == {
        "sf10": {"n_vectors": 1}
    }
    torn = str(tmp_path / "torn.json")
    with open(torn, "w") as f:
        f.write('{"sf1": {"n_vec')  # killed mid-write
    assert merge_into(torn, {"sf10": {"n_vectors": 1}}) == {
        "sf10": {"n_vectors": 1}
    }


def test_table_lock_stale_break_single_winner(tmp_path):
    """Many waiters hit one STALE lock at once: the rename-break admits
    exactly one holder at a time (the old rmdir+retry break allowed two
    waiters to both 'win' — waiter B could rmdir waiter A's FRESH
    lock). Also covers normal release + reacquire cycling."""
    from gcp_dbt_data_engineering_spark.plans.models import _table_lock

    path = str(tmp_path / "tbl")
    lock = f"{path}__lock"
    os.mkdir(lock)
    stale = time.time() - 10_000
    os.utime(lock, (stale, stale))  # a crashed holder's leftover

    holders = 0
    peak = 0
    mu = threading.Lock()
    errs: list[BaseException] = []

    def worker():
        nonlocal holders, peak
        try:
            for _ in range(3):
                with _table_lock(path, ttl_s=1.0):
                    with mu:
                        holders += 1
                        peak = max(peak, holders)
                    time.sleep(0.002)
                    with mu:
                        holders -= 1
        except BaseException as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert peak == 1, f"{peak} concurrent holders — mutual exclusion broken"
    assert not os.path.exists(lock)
    # no tombstone leftovers from the break
    leftovers = [p for p in os.listdir(tmp_path) if ".stale." in p]
    assert leftovers == []


def test_ann_tools_measure_the_spec_pipeline(spark):
    """The ANN evidence tools measure the specs' own search pipeline:
    the recall tool's K-parameterized IVF-Flat path, run at K = IVF_K,
    returns exactly the rows of ``similarity_ann_ivf``, and the
    candidate audit's probe step yields the spec's (query, cell) pairs
    on the spec's index."""
    from ann_candidates import _probes, ivf_index
    from ann_recall import _ivf_flat_k

    from gcp_dbt_data_engineering_spark.operators import similarity as S

    sf = "/root/testdata/sf0.01"
    spec_rows = sorted(
        S.SPECS["similarity_ann_ivf"].spark(spark, sf).collect()
    )
    assert spec_rows
    assert sorted(_ivf_flat_k(spark, sf, S.IVF_K).collect()) == spec_rows

    base = S._quantized(spark, sf)
    cents, _ = ivf_index(base, S.IVF_K)
    for n_probe in (S.FLAT_PROBE, S.SQ8_PROBE):
        tool = {tuple(r) for r in _probes(base, cents, n_probe).collect()}
        spec = {
            tuple(r)
            for r in S._ivf_probes(
                S._queries(base), S._ivf_cents(spark, sf), n_probe
            ).select("query_id", "cid").collect()
        }
        assert tool and tool == spec
