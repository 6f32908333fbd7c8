"""Streaming exact-dedup: first-occurrence emission, bounded state via
watermark eviction, and cross-micro-batch suppression through the
checkpointed state store."""

import shutil
import tempfile
from datetime import datetime, timedelta

import pandas as pd
import pytest

from latex_ocr_spark.sources.tables import TRANSCRIPTS_SCHEMA
from latex_ocr_spark.streaming.dedup import dedup_stream

T0 = datetime(2026, 1, 1, 12, 0, 0)


@pytest.fixture
def dirs():
    d = tempfile.mkdtemp(prefix="stream_dedup_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _turns(rows):
    return pd.DataFrame(
        [
            (f"conv-{i:03d}", 0, "user", text, None, T0 + timedelta(minutes=dt))
            for i, (text, dt) in enumerate(rows)
        ],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )


def _run(spark, dirs, out_name):
    inp, out, ckpt = f"{dirs}/in", f"{dirs}/{out_name}", f"{dirs}/ckpt_{out_name}"
    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).format("parquet").load(inp)
    q = (
        dedup_stream(stream, watermark="30 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return sorted(r.conv_id for r in spark.read.parquet(out).collect())


def test_first_occurrence_within_batch(spark, dirs):
    df = spark.createDataFrame(
        _turns([("$a+b$", 0), ("$a+b$", 1), ("$c$", 2), ("$a+b$", 3)]),
        TRANSCRIPTS_SCHEMA,
    )
    df.write.mode("append").parquet(f"{dirs}/in")
    got = _run(spark, dirs, "out1")
    # one row per distinct text: the $a+b$ trio collapses to one
    assert len(got) == 2


def test_duplicate_across_microbatches_suppressed(spark, dirs):
    spark.createDataFrame(
        _turns([("$x$", 0), ("$y$", 1)]), TRANSCRIPTS_SCHEMA
    ).write.mode("append").parquet(f"{dirs}/in")
    first = _run(spark, dirs, "out2")
    assert len(first) == 2

    # the same texts land again within the watermark window → the
    # checkpointed state store drops them in the catch-up run
    spark.createDataFrame(
        _turns([("$x$", 5), ("$z$", 6)]), TRANSCRIPTS_SCHEMA
    ).write.mode("append").parquet(f"{dirs}/in")
    second = _run(spark, dirs, "out2")
    assert len(second) == 3  # only $z$ is new
