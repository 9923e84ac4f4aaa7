"""Real watermark semantics under MULTIPLE micro-batches.

The fixture suite deliberately pins a single micro-batch (stream ==
batch exactness); this test forces two micro-batches over a two-file
corpus (maxFilesPerTrigger=1) so the 2-hour watermark actually
advances between them, and asserts the GUARANTEED append-mode window
contract:

- a window is emitted only after the watermark passes its end, and
  never retracted/updated afterwards (append-only);
- a straggler arriving AFTER its window was finalized and evicted is
  dropped: the emitted count stays the pre-straggler one and no
  second (window) row appears;
- windows the watermark has not passed stay unemitted at end of
  input.

(Caveat pinned by the batch layout below: the watermark advances with
a ONE-BATCH lag — a late row landing in the same batch that first
runs under the advanced watermark can still merge into live state, so
the straggler here arrives two batches after the max-advancing event.)
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gcp_dbt_data_engineering_spark import ARTIFACTS_DIR

T0 = datetime(2026, 1, 1, 0, 0, 0)


def _write_events(path: str, rows, mtime: float) -> None:
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(rows)), type=pa.int64()),
                "ts": pa.array(rows, type=pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), type=pa.int64()),
                "event_type": pa.array(["a"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        path,
    )
    os.utime(path, (mtime, mtime))


def test_watermark_finalizes_evicts_and_withholds(spark, tmp_path):
    d = str(tmp_path / "stream_src")
    os.makedirs(d)
    now = time.time()
    # The watermark advances with a one-batch lag (batch N runs under
    # the watermark computed from batches <= N-1), so the straggler
    # must arrive two batches after the event that advances max event
    # time, or it would still find its window's state live and merge.
    # batch 0: two t0-window rows + the max-advancing t0+6h row
    _write_events(
        f"{d}/events-a.parquet",
        [T0, T0 + timedelta(minutes=10), T0 + timedelta(hours=6)],
        now - 180,
    )
    # batch 1 runs under watermark t0+4h -> at its end the t0 window
    # (end 01:00) is finalized with count 2 and its state evicted
    _write_events(
        f"{d}/events-b.parquet",
        [T0 + timedelta(hours=6, minutes=10)],
        now - 120,
    )
    # batch 2: a straggler back in the long-finalized t0 window, plus
    # an on-time t0+7h row whose window stays open at end of input
    _write_events(
        f"{d}/events-c.parquet",
        [T0 + timedelta(minutes=20), T0 + timedelta(hours=7)],
        now - 60,
    )

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH").alias("h"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [(r.h, r.n) for r in spark.table("t_wm").collect()]

    t0_counts = sorted(n for h, n in rows if h == "2026-01-01 00")
    # finalized once with batch-0's two rows; the straggler found the
    # state evicted and the watermark ahead, and was DROPPED — no
    # merge (count stays 2), no retraction, no duplicate emission
    assert t0_counts == [2]
    # the 06h and 07h windows end after the final watermark (t0+5h):
    # append mode must not have emitted either yet
    assert all(h in ("2026-01-01 00",) for h, _ in rows)


# ---------------------------------------------------------------------------
# multi-micro-batch vs batch-twin equality on REAL corpora (VERDICT r8
# item 2): split the events fixture into >= 3 time-ordered files, one
# micro-batch per file, and assert the production streaming paths give
# the batch answer — session state merging across batch boundaries,
# watermark advancing between triggers.
# ---------------------------------------------------------------------------

NASTY = os.path.join(ARTIFACTS_DIR, "sf0.01_nasty")


def _split_events(spark, sf_dir, out_dir, n_files=3):
    """Time-ordered split of the corpus's events into n_files parquet
    files with ascending mtimes (FileStreamSource consumes oldest
    first, so the stream replays in event order; ties and NULL ts go
    to the first file — NULLs are filtered identically by both twins).
    Row multiset is preserved, so batch results on the original corpus
    are the ground truth for streaming over the split."""
    import pandas as pd  # noqa: F401  (toPandas)

    pdf = spark.read.parquet(os.path.join(sf_dir, "events.parquet")) \
        .toPandas().sort_values(["ts", "event_id"], na_position="first") \
        .reset_index(drop=True)
    os.makedirs(out_dir, exist_ok=True)
    now = time.time()
    n = len(pdf)
    for i in range(n_files):
        part = pdf.iloc[i * n // n_files:(i + 1) * n // n_files]
        path = os.path.join(out_dir, f"events-{i}.parquet")
        spark.createDataFrame(part).repartition(1).write.mode(
            "overwrite"
        ).parquet(path + ".dir")
        # single-file layout so maxFilesPerTrigger=1 == one batch/slice
        import glob as _g
        import shutil
        src = _g.glob(path + ".dir/part-*.parquet")[0]
        shutil.move(src, path)
        shutil.rmtree(path + ".dir")
        os.utime(path, (now - 300 + i * 60, now - 300 + i * 60))
    return out_dir


def _rows(df, cols):
    # key=repr: NULLs (nasty corpus) are not orderable against strings
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()), key=repr
    )


def test_session_stream_multibatch_equals_batch(spark, tmp_path):
    """Native session_window over >= 3 real micro-batches == the batch
    spec on the same rows: sessions spanning a batch boundary must be
    MERGED by the incremental state machine, not split."""
    from pyspark.sql import functions as F

    from gcp_dbt_data_engineering_spark.streaming.events import (
        run_session_window_stream,
    )

    sf = "/root/testdata/sf0.001"
    d = _split_events(spark, sf, str(tmp_path / "split"))
    cols = ["user_id", "s", "e", "n"]
    got = run_session_window_stream(
        spark, d, query_name="t_sess_mb", max_files_per_trigger=1
    ).selectExpr(
        "user_id", "session_window.start AS s", "session_window.end AS e",
        "n"
    )
    want = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .where("ts IS NOT NULL")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .selectExpr(
            "user_id", "session_window.start AS s",
            "session_window.end AS e", "n"
        )
    )
    assert _rows(got, cols) == _rows(want, cols)


def test_user_totals_stream_multibatch_equals_batch(spark, tmp_path):
    """applyInPandasWithState across >= 3 micro-batches: per-user
    state accumulates across batch boundaries; the LAST update per
    user equals the batch aggregate, and the update-mode sink shows
    multiple emissions per user (proof that >= 3 triggers really
    fired — one batch would emit each user exactly once)."""
    from pyspark.sql import functions as F

    from gcp_dbt_data_engineering_spark.streaming.events import (
        run_user_totals_stream,
    )

    sf = "/root/testdata/sf0.001"
    d = _split_events(spark, sf, str(tmp_path / "split"))
    upd = run_user_totals_stream(
        spark, d, query_name="t_tot_mb", max_files_per_trigger=1
    )
    n_updates = upd.count()
    final = upd.groupBy("user_id").agg(
        F.max("n_events").alias("n_events")
    )
    want = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert _rows(final, ["user_id", "n_events"]) == _rows(
        want, ["user_id", "n_events"]
    )
    n_users = want.count()
    # 3 time-contiguous slices of this corpus touch most users each
    # trigger; > 2x distinct users of update rows cannot come from a
    # single micro-batch
    assert n_updates > 2 * n_users


def test_hourly_stream_multibatch_equals_batch_nasty(spark, tmp_path):
    """Watermarked hourly windows over >= 3 micro-batches on the
    ADVERSARIAL corpus (NULL ts, duplicate event ids, extreme values)
    == the batch twin; complete mode keeps every window observable
    while the watermark still advances between triggers."""
    import pytest

    from gcp_dbt_data_engineering_spark.streaming.events import (
        events_hourly_windows,
        run_hourly_stream,
    )

    if not os.path.isdir(NASTY):
        pytest.skip("nasty corpus not generated")
    d = _split_events(spark, NASTY, str(tmp_path / "split"))
    got = run_hourly_stream(
        spark, d, query_name="t_hourly_mb", max_files_per_trigger=1
    )
    want = events_hourly_windows(spark, NASTY)
    # n_users is HLL in streaming (exact distinct is unsupported over
    # streaming state — documented in _hourly_agg) and exact in batch:
    # exact-compare the exact columns, band the HLL one.
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows(got.select(cols), cols) == _rows(want.select(cols), cols)
    key = ["window_start", "event_type"]
    gu = {tuple(map(repr, (r.window_start, r.event_type))): r.n_users
          for r in got.collect()}
    for r in want.collect():
        est = gu[tuple(map(repr, (r.window_start, r.event_type)))]
        assert abs(est - r.n_users) <= max(2, 0.15 * r.n_users), (
            r.window_start, r.event_type, est, r.n_users,
        )
