"""Watermarked windowed streaming: windows finalize exactly once as the
watermark advances across catch-up runs; late data within the
watermark is still counted; the union of emitted windows matches the
batch aggregation."""

import datetime as dt
import shutil
import tempfile

import pandas as pd
import pytest

from latex_ocr_spark.streaming.windows import (
    EVENTS_SCHEMA,
    start_windowed_stream,
    windowed_counts,
)

BASE = dt.datetime(2025, 1, 1, 0, 0, 0)


def _events(hours_values):
    rows = []
    for i, (hour, minute) in enumerate(hours_values):
        rows.append(
            (i, BASE + dt.timedelta(hours=hour, minutes=minute), i % 3, "click", 1.0, "{}")
        )
    return rows


@pytest.fixture
def dirs():
    d = tempfile.mkdtemp(prefix="streamwin_")
    yield f"{d}/in", f"{d}/out", f"{d}/ckpt"
    shutil.rmtree(d, ignore_errors=True)


def _run(spark, inp, out, ckpt):
    q = start_windowed_stream(spark, inp, out, ckpt)
    q.awaitTermination(120)


def _emitted(spark, out):
    try:
        return {
            (r.window_start.hour, r.n_events)
            for r in spark.read.parquet(out).collect()
        }
    except Exception:
        return set()


def test_watermark_finalizes_windows_across_catchups(spark, dirs):
    inp, out, ckpt = dirs

    def land(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        spark.createDataFrame(pdf, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(inp)

    # batch 1: events in hours 0 and 1 — nothing can finalize yet
    land(_events([(0, 5), (0, 40), (1, 10)]))
    _run(spark, inp, out, ckpt)
    assert _emitted(spark, out) == set()

    # batch 2: a late hour-0 event (allowed: watermark is max(ts)-1h =
    # 0:10) plus events at hour 3 → watermark moves to 2:00 and the
    # hour-0 (2 original + 1 late = 3 events) and hour-1 windows finalize
    land(_events([(0, 55), (3, 0)]))
    _run(spark, inp, out, ckpt)
    assert _emitted(spark, out) == {(0, 3), (1, 1)}

    # batch 3: push watermark far ahead → hour 3 finalizes too
    land(_events([(9, 0)]))
    _run(spark, inp, out, ckpt)
    assert _emitted(spark, out) == {(0, 3), (1, 1), (3, 1)}

    # emitted windows agree with the batch aggregation of the same data
    batch = windowed_counts(spark.read.parquet(inp))
    batch_set = {(r.window_start.hour, r.n_events) for r in batch.collect()}
    assert _emitted(spark, out) <= batch_set


def test_session_stream_matches_batch(spark, dirs):
    """Streaming session windows (state-store merged, watermark-closed)
    == batch session_window over the same events, including a session
    extended across micro-batches."""
    import pyspark.sql.functions as F

    from latex_ocr_spark.streaming.windows import session_counts, start_session_stream

    inp, out, ckpt = dirs
    # after the uid%2 remap below: user 0 gets 0:00/0:10/0:50 (first
    # two merge — 10-min spacing < 17-min gap — then a 40-min gap opens
    # a second session); user 1 gets 0:05 and 2:00 (two sessions)
    rows = _events([(0, 0), (0, 5), (0, 10), (0, 50), (2, 0)])
    rows = [(i, ts, uid % 2, et, v, p) for (i, ts, uid, et, v, p) in rows]
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    df.write.mode("append").parquet(inp)
    # far-future row advances the watermark so all sessions close
    closer = spark.createDataFrame(
        [(999, BASE + dt.timedelta(days=2), 7, "click", 1.0, "{}")], EVENTS_SCHEMA
    )
    closer.write.mode("append").parquet(inp)
    q = start_session_stream(spark, inp, out, ckpt)
    q.awaitTermination(120)

    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.user_id, r.session_start, r.n_events)
        for r in session_counts(
            spark.read.parquet(inp).select("user_id", "ts")
        ).collect()
    }
    # the closer row's own session may still be open in streaming;
    # every session the watermark closed must match batch exactly
    assert {g for g in got if g[0] != 7} == {g for g in batch if g[0] != 7}
    assert len({g for g in got if g[0] == 0}) == 2  # gap split into two sessions
