"""Stream-stream interval join == the batch join over the same files;
matches outside the time window are excluded; state is bounded by the
watermark + range condition (the query starts at all — Spark rejects
unbounded stream-stream joins without them)."""

import datetime as dt
import shutil
import tempfile

import pytest

from latex_ocr_spark.streaming.joins import interval_join

T0 = dt.datetime(2026, 2, 1, 9, 0, 0)

SPAN_SCHEMA = "conv_id string, ts timestamp, latex string"
EVENT_SCHEMA = "conv_id string, ts timestamp, action string"


@pytest.fixture
def dirs():
    d = tempfile.mkdtemp(prefix="stream_join_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _m(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def test_interval_join_stream_matches_batch(spark, dirs):
    spans = [
        ("c1", _m(0), "$a$"),
        ("c2", _m(5), "$b$"),
    ]
    events = [
        ("c1", _m(10), "upvote"),     # within 30 min of c1's span
        ("c1", _m(45), "late"),       # outside the window
        ("c2", _m(4), "early"),       # before the span
        ("c2", _m(20), "edit"),       # within
        ("c3", _m(1), "orphan"),      # no span
    ]
    lin, rin, out, ckpt = f"{dirs}/l", f"{dirs}/r", f"{dirs}/out", f"{dirs}/ckpt"
    spark.createDataFrame(spans, SPAN_SCHEMA).write.parquet(lin)
    spark.createDataFrame(events, EVENT_SCHEMA).write.parquet(rin)

    lstream = spark.readStream.schema(SPAN_SCHEMA).format("parquet").load(lin)
    rstream = spark.readStream.schema(EVENT_SCHEMA).format("parquet").load(rin)
    q = (
        interval_join(lstream, rstream, key="conv_id")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {(r.conv_id, r.latex, r.action) for r in spark.read.parquet(out).collect()}
    assert got == {("c1", "$a$", "upvote"), ("c2", "$b$", "edit")}

    batch = {
        (r.conv_id, r.latex, r.action)
        for r in interval_join(
            spark.read.parquet(lin), spark.read.parquet(rin), key="conv_id"
        ).collect()
    }
    assert got == batch
