"""Streaming benchmark decontamination: the ingestion-time guard.

A curation pipeline that keeps acquiring documents needs contamination
checked as data LANDS, not in a later batch sweep.  Contamination is a
property of one document against a *static* eval/benchmark set —
there is no cross-batch state — so the streaming form is exactly the
batch operator applied per micro-batch inside ``foreachBatch``
(single code path, same oracle-checked semantics as the
``dedup_decontaminate`` registry query):

    readStream(documents dir)
      → foreachBatch: dedup.decontaminate(batch, evalset)
          → contamination report sink
          → cleaned documents sink

The eval set is profiled, materialized and counted once per query,
before it starts; its count gates the eval side's broadcast (the dedup
size gate), and each batch costs one scan and one profile pass of its
own files plus the joins.  Each micro-batch reads at most
``streaming.MAX_FILES_PER_TRIGGER`` files, the near-dedup stream's
default bound, so an ``availableNow`` catch-up over a backlog drains as
a sequence of bounded batches.

Delivery semantics: ``availableNow`` + checkpoint give exactly-once
*file progress* (a fully processed batch is never re-read), and the
OUTPUT is exactly-once too: both sinks are batch_id-partitioned
dynamic overwrites (streaming/sinks.py), so a batch replayed after a
failure between or after its writes REPLACES its own partitions
instead of appending duplicates; read the results back through
``sinks.read_stream_output`` (drops the transport column).
"""

from __future__ import annotations

from typing import Optional, Set

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from latex_ocr_spark.streaming.sinks import write_batch_idempotent

DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def start_decontamination_stream(
    spark: SparkSession,
    input_dir: str,
    evalset: DataFrame,
    report_dir: str,
    clean_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    ngram: int = 3,
    available_now: bool = True,
    _fail_batches: Optional[Set[int]] = None,
):
    """Continuously decontaminate documents as files land.

    ``evalset`` is a static (doc_id, text) frame, profiled once here;
    each micro-batch is checked independently against it and split
    into a contamination report (corpus_id, eval_id, jaccard) and a
    cleaned stream.

    ``_fail_batches`` injects a crash AFTER the named batches' sink
    writes but before the checkpoint commit — the test hook for the
    replayed-batch window the idempotent sinks exist for.
    """
    from latex_ocr_spark import cachepool, streaming
    from latex_ocr_spark.operators import dedup as D
    from latex_ocr_spark.streaming.sinks import assert_idempotent_layout

    assert_idempotent_layout(spark, report_dir)
    assert_idempotent_layout(spark, clean_dir)
    # decontaminate's default similarity measure
    num_hashes, band_size = 8, 2
    prof_e, n_eval = D._eval_profile(evalset, num_hashes, ngram, "text", "doc_id")

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA).format("parquet")
        .option("maxFilesPerTrigger", streaming.MAX_FILES_PER_TRIGGER)
        .load(input_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # scoped, not release(): this runs on the stream's micro-batch
        # thread, and a global sweep here would unpersist frames a
        # concurrently running batch query or second stream still needs
        with cachepool.scoped():
            report, cleaned = D._decontaminate_against(
                batch_df, prof_e, n_eval, threshold, num_hashes, band_size,
                ngram, text_col="text", id_col="doc_id", max_bucket_size=None,
            )
            write_batch_idempotent(report, batch_id, report_dir)
            write_batch_idempotent(cleaned, batch_id, clean_dir)
            if _fail_batches and batch_id in _fail_batches:
                raise RuntimeError(
                    f"injected crash after batch {batch_id} writes, "
                    "before checkpoint commit"
                )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
