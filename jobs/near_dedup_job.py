#!/usr/bin/env python
"""Production entry point: streaming near-duplicate dedup with a
durable survivor index.

Cluster deployment:

    spark-submit --py-files latex_ocr_spark.zip \
        jobs/near_dedup_job.py \
        --input  s3://bucket/incoming_docs/  \
        --output s3://bucket/accepted_docs/  \
        --index  s3://bucket/neardup_index/  \
        --checkpoint s3://bucket/neardup_ckpt/ \
        --threshold 0.5 --ngram 3

One invocation processes everything currently in --input
(availableNow) and exits; re-running catches up on new files only —
the cron-style ingest shape.  ``--continuous`` keeps the query
running instead.  ``--synth N`` writes N synthetic documents into
--input first (smoke/demo path, no external data).

``--auto-knobs``:

- fresh index → survey the CURRENT --input corpus once (batch read)
  and derive num_hashes/band_size from the S-curve for the declared
  --threshold (operators/advisor.py), plus a max_bucket_size cap from
  the df percentiles;
- existing index → ADOPT the knobs recorded in the index's _meta
  fingerprint instead of re-deriving: the index is only comparable
  under the knobs that built it, and a re-derivation over a grown
  corpus would drift the fingerprint and (correctly, loudly) refuse
  to start.  Explicit non-default flags always win and are validated
  against _meta by the stream itself.

Prints one JSON line: applied knobs, accepted-count after this run,
and index batch ids.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from latex_ocr_spark.streaming import MAX_FILES_PER_TRIGGER

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="document arrival dir "
                    "(parquet files, schema doc_id/text)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--index", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--num-hashes", type=int, default=8)
    ap.add_argument("--band-size", type=int, default=2)
    ap.add_argument("--ngram", type=int, default=3)
    ap.add_argument("--max-bucket-size", type=int)
    ap.add_argument("--auto-knobs", action="store_true")
    ap.add_argument("--auto-knobs-sample", type=float,
                    help="survey sample fraction (fresh index only)")
    ap.add_argument("--continuous", action="store_true",
                    help="keep the query running instead of "
                    "process-available-and-exit")
    ap.add_argument("--max-files-per-trigger", type=int,
                    default=MAX_FILES_PER_TRIGGER,
                    help="micro-batch bound: files per trigger (0 = "
                    "unbounded; availableNow catch-up over a backlog "
                    "then runs as ONE giant batch — see "
                    "start_near_dedup_stream)")
    ap.add_argument("--synth", type=int,
                    help="write N synthetic documents into --input first")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args()

    from latex_ocr_spark.session import get_spark
    from latex_ocr_spark.streaming.near_dedup import (
        list_index_batches,
        start_near_dedup_stream,
    )
    from latex_ocr_spark.streaming.sinks import read_stream_output

    spark = get_spark("near-dedup-stream", cores=args.cores,
                      shuffle_partitions=args.cores)

    if args.synth:
        from pyspark.sql import functions as F

        spark.range(args.synth).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("sa"), F.col("id").cast("string"),
                F.lit(" sb"), (F.col("id") * 3).cast("string"),
                F.lit(" sc"), (F.col("id") * 7).cast("string"),
                F.lit(" sd"), (F.col("id") * 11).cast("string"),
                F.lit(" se"), (F.col("id") * 13).cast("string"),
            ).alias("text"),
        ).write.mode("append").parquet(args.input)

    applied: dict = {}
    if args.auto_knobs:
        applied = _resolve_stream_knobs(spark, args, ap)

    q = start_near_dedup_stream(
        spark, args.input, args.output, args.index, args.checkpoint,
        threshold=args.threshold, num_hashes=args.num_hashes,
        band_size=args.band_size, ngram=args.ngram,
        max_bucket_size=args.max_bucket_size,
        available_now=not args.continuous,
        max_files_per_trigger=args.max_files_per_trigger or None,
    )
    q.awaitTermination()

    from latex_ocr_spark.lease import is_uri_path
    from latex_ocr_spark.session import has_data

    # first invocation before any producer wrote input files: the query
    # processed zero batches and wrote no output — accepted == 0
    accepted = (
        read_stream_output(spark, args.output).count()
        if has_data(spark, args.output) else 0
    )
    print(json.dumps({
        "auto_knobs": applied,
        "accepted": accepted,
        # partition listing is local-fs; None = "not listable here",
        # distinct from [] = "no batches"
        "index_batches": list_index_batches(args.index)
        if not is_uri_path(args.index) else None,
    }))
    return 0


def _resolve_stream_knobs(spark, args, parser) -> dict:
    """--auto-knobs for the stream (see module docstring): adopt the
    index _meta knobs when an index exists, else survey-and-derive via
    the shared advisor core (`survey_and_apply_lsh_knobs` — same
    defaulted-only / coupled-pair / empty-survey-degrade policy as the
    batch jobs, one implementation)."""
    from latex_ocr_spark.operators.advisor import survey_and_apply_lsh_knobs
    from latex_ocr_spark.session import has_data

    applied: dict = {}

    def adopt(name, value):
        if value is not None and getattr(args, name) == parser.get_default(name):
            setattr(args, name, value)
            applied[name] = value

    from latex_ocr_spark.lease import is_uri_path
    from latex_ocr_spark.streaming.near_dedup import list_index_batches

    meta_path = os.path.join(args.index, "_meta")
    if has_data(spark, meta_path):
        recorded = json.loads(spark.read.text(meta_path).first()[0])
        # a fingerprint with NO indexed data behind it (e.g. a cron
        # first-firing before any producer wrote input) has pinned
        # nothing: dropping it lets this run derive from the first
        # real data instead of inheriting defaults forever.  Only
        # decidable on a local index (partition listing).
        index_is_empty = (
            not is_uri_path(args.index)
            and not list_index_batches(args.index)
            and not os.path.isdir(os.path.join(args.index, "signatures"))
        )
        if not index_is_empty:
            for knob in ("threshold", "num_hashes", "band_size", "ngram"):
                adopt(knob, recorded.get(knob))
            applied["_source"] = (
                "index _meta — an existing index is only comparable under "
                "the knobs that built it"
            )
            return applied
        import shutil

        from latex_ocr_spark.lease import DirLease

        # fence the empty-index _meta reset with the index's own
        # stream lease (r6 review): unfenced, this rmtree could race a
        # concurrently starting stream that is validating or rewriting
        # _meta.  Emptiness is re-checked under the lease; a LIVE
        # stream on the index makes the acquire fail loudly — correct,
        # since auto-knobbing an index under a running stream is the
        # same torn state the stream-start fence forbids.  The stream
        # re-fingerprints with the derived knobs below.
        with DirLease(args.index, name="_stream_lock", role="auto-knobs meta reset"):
            if (
                not list_index_batches(args.index)
                and not os.path.isdir(os.path.join(args.index, "signatures"))
                and os.path.exists(meta_path)
            ):
                shutil.rmtree(meta_path)

    # a path without a visible file (cron fired before any producer)
    # is "no input yet"
    if not has_data(spark, args.input):
        return {"_note": "no input yet, parser defaults kept"}
    docs = spark.read.parquet(args.input).select("doc_id", "text")
    rec, applied, maybe = survey_and_apply_lsh_knobs(
        docs, args, parser, threshold_attr="threshold",
        sample_fraction=args.auto_knobs_sample,
    )
    if rec is None:
        return applied  # empty survey: defaults kept, with note
    maybe("max_bucket_size", rec["max_bucket_size"])
    applied["_source"] = "input survey (fresh index)"
    return applied


if __name__ == "__main__":
    sys.exit(main())
