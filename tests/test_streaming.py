"""Streaming extraction == batch extraction over the same files, with
checkpointed incremental catch-up (availableNow)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.operators.extract import extract_spans
from latex_ocr_spark.sources.tables import synth_transcripts
from latex_ocr_spark.streaming.sinks import read_stream_output
from latex_ocr_spark.streaming.stream import start_extraction_stream


@pytest.fixture
def dirs():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _spans_set(df):
    return sorted(
        (r.conv_id, r.turn_idx, r.span_idx, r.raw_match, r.latex_norm)
        for r in df.collect()
    )


def test_stream_matches_batch_and_resumes(spark, dirs):
    inp, out, ckpt = f"{dirs}/in", f"{dirs}/out", f"{dirs}/ckpt"
    all_t = synth_transcripts(spark, 40)

    # land the first half of the conversations
    first = all_t.filter(F.col("conv_id") < "conv-000020")
    first.write.mode("append").parquet(inp)
    q = start_extraction_stream(spark, inp, out, ckpt, available_now=True)
    q.awaitTermination(120)
    got1 = _spans_set(read_stream_output(spark, out))
    assert got1 == _spans_set(extract_spans(first.select("conv_id", "turn_idx", "text")))

    # land the rest; a catch-up run must process only the new files
    second = all_t.filter(F.col("conv_id") >= "conv-000020")
    second.write.mode("append").parquet(inp)
    q = start_extraction_stream(spark, inp, out, ckpt, available_now=True)
    q.awaitTermination(120)
    got2 = _spans_set(read_stream_output(spark, out))
    assert got2 == _spans_set(extract_spans(all_t.select("conv_id", "turn_idx", "text")))

    # re-run with nothing new: checkpoint makes it a no-op (no dupes)
    q = start_extraction_stream(spark, inp, out, ckpt, available_now=True)
    q.awaitTermination(120)
    assert _spans_set(read_stream_output(spark, out)) == got2


def test_idempotent_sink_refuses_legacy_append_layout(spark, tmp_path):
    """A pre-idempotent deployment has root-level part files in its
    output dir; writing batch_id=N/ partitions next to them would break
    partition discovery on the NEXT read — the stream must refuse at
    start with a migration hint instead (move the old files under
    batch_id=-1)."""
    import pytest

    from latex_ocr_spark.streaming.sinks import assert_idempotent_layout

    legacy = str(tmp_path / "legacy_out")
    spark.range(5).selectExpr(
        "concat('c', id) AS conv_id", "CAST(id AS INT) AS turn_idx",
        "0 AS span_idx", "'x' AS raw_match", "'x' AS latex_norm"
    ).write.mode("overwrite").parquet(legacy)

    with pytest.raises(RuntimeError, match="plain-append.*batch_id=-1/ to migrate"):
        assert_idempotent_layout(spark, legacy)
    # fresh and already-partitioned sinks pass
    assert_idempotent_layout(spark, str(tmp_path / "fresh"))


def test_stream_restarts_after_a_batch_without_math(spark, dirs):
    """A batch whose turns hold no math commits no output file; the
    next start must read that sink as fresh, not fail on it."""
    inp, out, ckpt = f"{dirs}/in", f"{dirs}/out", f"{dirs}/ckpt"
    all_t = synth_transcripts(spark, 20)
    plain = all_t.filter(F.col("conv_id") < "conv-000010").withColumn(
        "text", F.lit("no math in this turn")
    )
    rest = all_t.filter(F.col("conv_id") >= "conv-000010")

    plain.write.mode("append").parquet(inp)
    start_extraction_stream(spark, inp, out, ckpt).awaitTermination(120)
    rest.write.mode("append").parquet(inp)
    start_extraction_stream(spark, inp, out, ckpt).awaitTermination(120)
    assert _spans_set(read_stream_output(spark, out)) == _spans_set(
        extract_spans(rest.select("conv_id", "turn_idx", "text"))
    )


def test_backlog_drains_in_batches_of_the_shared_file_bound(spark, dirs, monkeypatch):
    """The extraction stream reads at most
    ``streaming.MAX_FILES_PER_TRIGGER`` files per micro-batch: with the
    bound patched to 1, three landed files drain in three batches in one
    ``availableNow`` run, and the spans equal ``extract_spans`` over the
    three chunks."""
    import os

    from latex_ocr_spark import streaming

    inp, out, ckpt = f"{dirs}/in", f"{dirs}/out", f"{dirs}/ckpt"
    all_t = synth_transcripts(spark, 30)
    for lo, hi in (("conv-000000", "conv-000010"), ("conv-000010", "conv-000020"),
                   ("conv-000020", "conv-000030")):
        chunk = all_t.filter((F.col("conv_id") >= lo) & (F.col("conv_id") < hi))
        chunk.coalesce(1).write.mode("append").parquet(inp)
    monkeypatch.setattr(streaming, "MAX_FILES_PER_TRIGGER", 1)
    start_extraction_stream(spark, inp, out, ckpt).awaitTermination(120)
    assert sum(b.startswith("batch_id=") for b in os.listdir(out)) == 3
    assert _spans_set(read_stream_output(spark, out)) == _spans_set(
        extract_spans(all_t.select("conv_id", "turn_idx", "text"))
    )
