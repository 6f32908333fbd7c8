"""Idempotent foreachBatch sinks.

Structured Streaming's checkpoint gives exactly-once *source* progress,
but a plain ``mode("append")`` inside ``foreachBatch`` makes the OUTPUT
at-least-once: a batch that fails after (or between) its writes is
replayed on restart and appends its rows again.

The fix is the batch-id-partitioned dynamic overwrite: every batch
writes ``batch_id=<id>/`` partition directories with per-write
``partitionOverwriteMode=dynamic``, so a replayed batch REPLACES its
own partitions instead of appending next to them — the same
idempotent-unit commit the extraction resume path uses
(operators/lineage.py: dynamic overwrite by work_key).  Replays become
invisible; no dedup-on-read required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from latex_ocr_spark.session import has_data

BATCH_COL = "batch_id"


def assert_idempotent_layout(spark: SparkSession, path: str) -> None:
    """Refuse to mix the batch_id-partitioned layout into a PRE-EXISTING
    plain-append sink directory: root-level part files next to
    ``batch_id=N/`` partition dirs make the next read fail partition
    discovery ("conflicting directory structures").  Streams call this
    once at start; a legacy deployment migrates by moving the old files
    under a ``batch_id=-1/`` directory.  A sink without a visible file
    is fresh: a batch with no rows commits no file, so a query whose
    batches all came out empty must not keep the next start from
    running."""
    if not has_data(spark, path):
        return  # fresh sink, or one whose batches all came out empty
    if BATCH_COL not in spark.read.parquet(path).columns:
        raise RuntimeError(
            f"output at {path} holds a plain-append (pre-idempotent) "
            f"layout without a {BATCH_COL} partition column; writing "
            "batch_id-partitioned data next to it would break partition "
            "discovery on read.  Move the existing files under "
            f"{path}/{BATCH_COL}=-1/ to migrate"
        )


def write_batch_idempotent(df: DataFrame, batch_id: int, path: str) -> None:
    """Write one micro-batch's rows under ``path`` so that replaying
    the batch replaces — never duplicates — its output.

    The overwrite mode rides the WRITER (a per-write option), not the
    session conf: foreachBatch runs on the stream's micro-batch thread
    and a session-wide conf flip there would race a concurrently
    committing second stream or batch query."""
    (
        df.withColumn(BATCH_COL, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(path)
    )


def read_stream_output(spark: SparkSession, path: str) -> DataFrame:
    """Read an idempotent sink back without its transport column."""
    return spark.read.parquet(path).drop(BATCH_COL)
