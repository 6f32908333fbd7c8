"""Streaming extraction: the batch pipeline behind a readStream.

The reference has no streaming (SURVEY.md §2.10); its closest idiom is
the incremental render-resume loop (render.py:160-167).  Extraction is
stateless per turn, so the streaming form needs no custom state store:
``readStream`` over the transcripts directory → the same
``extract_spans`` transformation inside ``foreachBatch`` → idempotent sink,
with ``availableNow`` for catch-up runs and the checkpoint directory
carrying exactly-once file-source progress.  Stable ordering is a
writeback concern (W1 window) applied by readers, since a stream can
only append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from latex_ocr_spark.sources.tables import TRANSCRIPTS_SCHEMA


def read_transcript_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """The transcripts landing in ``input_dir``, at most
    ``streaming.MAX_FILES_PER_TRIGGER`` files per micro-batch (read when
    the stream is defined), so an ``availableNow`` catch-up over a
    backlog drains as a sequence of bounded batches."""
    from latex_ocr_spark import streaming

    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", streaming.MAX_FILES_PER_TRIGGER)
        .load(input_dir)
    )


def start_extraction_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuously extract spans from transcript files as they land.

    foreachBatch keeps the exact batch operator (single code path for
    batch + streaming).  Each micro-batch is written as a
    batch_id-partitioned dynamic overwrite (streaming/sinks.py) so a
    replayed batch replaces its own output — exactly-once results; read
    back via ``sinks.read_stream_output``.
    """
    from latex_ocr_spark.operators.extract import extract_spans
    from latex_ocr_spark.streaming.sinks import (
        assert_idempotent_layout,
        write_batch_idempotent,
    )

    assert_idempotent_layout(spark, output_dir)

    stream = read_transcript_stream(spark, input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spans = extract_spans(batch_df.select("conv_id", "turn_idx", "text"))
        write_batch_idempotent(spans, batch_id, output_dir)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
