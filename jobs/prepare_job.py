#!/usr/bin/env python
"""Production entry point: the full training-prep chain in ONE
spark-submit — the reference's §3.2 pipeline (corpus acquisition
arxiv.py:147-164 → dataset tokenize/size-gate dataset.py:233-259)
generalized to a curated, packed, training-ready table:

    spark-submit --py-files latex_ocr_spark.zip \
        jobs/prepare_job.py \
        --input  s3://bucket/documents/     \
        --evalset s3://bucket/benchmarks/   \
        --output s3://bucket/prepared/      \
        --checkpoint-dir s3://bucket/prepared/_ckpt \
        --budget 2048

Stages (all individually oracle-/parity-tested operators):

    read_documents        JSONL / parquet / catalog table
      → curate_corpus     quality gates → exact dedup → near-dup
                          clusters → decontamination → cluster-safe
                          split  (resumable when --checkpoint-dir)
      → with_tokens       broadcast-vocab BPE ids (Arrow batches)
      → filter_max_seq_len optional hard length gate
      → pack_sequences    per-split first-fit token packing
      → sink              parquet partitioned by split, or a bucketed
                          managed table (--bucket-table) for
                          exchange-free downstream joins

Outputs under --output:
    packed/      curated docs + tokens + (pack_id, pack_offset) —
                 pack ids are globally unique and no pack ever mixes
                 train and val rows
    pack_stats/  per-pack fill ratios (the padding-waste report)
    report/      contamination report (when --evalset)
    clusters/    duplicate clusters
    funnel/      docs in/out per curation stage (one JSON line)

With --checkpoint-dir the curation stages are checkpoint-resumable
(plans/resumable.py): a killed run re-executes only unfinished stages.
Without it, the single-pass funnel runs with deferred count resolution
riding the packed-table write — zero dedicated count passes.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def prepare_tables(spark, docs, evalset, args):
    """The composed chain, importable for tests/bench: returns
    (packed, result) with every frame still lazy except the actions
    the curation mode itself performs; per-pack stats come from
    :func:`packed_stats` over the WRITTEN table."""
    from pyspark.sql import functions as F

    from latex_ocr_spark.operators.packing import pack_sequences
    from latex_ocr_spark.operators.tokenize import filter_max_seq_len, with_tokens
    from latex_ocr_spark.plans.curate_cli import curate_from_args

    # in-memory runner: the packed-table write resolves the funnel counts
    res = curate_from_args(spark, docs, evalset, args)

    toks = with_tokens(res.documents, text_col="text", out_col="tokens")
    if args.max_seq_len:
        toks = filter_max_seq_len(toks, max_len=args.max_seq_len)
    toks = toks.withColumn("n_tokens", F.size("tokens"))

    # group_col='split': no pack ever mixes train and val rows (val
    # text leaking into a training batch), in ONE shuffle + ONE pass —
    # a filter-per-split union would scan the curation pipeline twice
    # and double-count the deferred funnel observations
    packed = pack_sequences(
        toks, budget=args.budget, num_partitions=args.pack_partitions,
        group_col="split",
    )
    return packed, res


def packed_stats(packed: DataFrame, budget: int) -> DataFrame:
    """Per-pack fill report with the pack's split tagged on (pack ids
    are globally unique and never mix splits, so ``min(split)`` is THE
    split).  Computed from the WRITTEN packed table (cheap columnar
    re-read), never by re-running the pipeline."""
    from pyspark.sql import functions as F

    from latex_ocr_spark.operators.packing import pack_stats

    splits = packed.filter(F.col("pack_id").isNotNull()).groupBy("pack_id").agg(
        F.min("split").alias("split")
    )
    return pack_stats(packed, budget).join(splits, "pack_id")


def main() -> int:
    from latex_ocr_spark.plans.curate_cli import (
        add_curation_args,
        add_input_args,
        apply_auto_knobs,
        read_inputs,
        write_funnel,
    )

    ap = argparse.ArgumentParser()
    add_input_args(ap)
    ap.add_argument("--output", required=True)
    add_curation_args(ap)
    # training-prep knobs
    ap.add_argument("--budget", type=int, default=2048,
                    help="token budget per pack")
    ap.add_argument("--max-seq-len", type=int,
                    help="drop rows whose BPE id count exceeds this "
                         "BEFORE packing (F6 gate; over-budget rows "
                         "are otherwise quarantined by the packer)")
    ap.add_argument("--pack-partitions", type=int,
                    help="fixed hash-partition count for deterministic "
                         "packing across cluster sizes")
    ap.add_argument("--bucket-table",
                    help="ALSO write the packed table as a bucketed "
                         "managed table on doc_id (exchange-free "
                         "downstream joins)")
    args = ap.parse_args()

    from latex_ocr_spark.session import get_spark

    spark = get_spark("prepare_job")
    docs, evalset = read_inputs(spark, args, ap)
    apply_auto_knobs(docs, args, ap)
    packed, res = prepare_tables(spark, docs, evalset, args)

    # the run's primary action: write the packed table (partitioned by
    # split so a trainer reads only its side) — in deferred mode this
    # write also resolves every funnel observation
    packed.write.mode("overwrite").partitionBy("split").parquet(
        f"{args.output}/packed"
    )
    res.resolve_funnel()
    stats = packed_stats(
        spark.read.parquet(f"{args.output}/packed"), args.budget
    )
    stats.write.mode("overwrite").parquet(f"{args.output}/pack_stats")
    if res.contamination_report is not None:
        res.contamination_report.write.mode("overwrite").parquet(
            f"{args.output}/report"
        )
    res.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    if args.bucket_table:
        from latex_ocr_spark.sources.bucketed import write_bucketed

        write_bucketed(
            spark.read.parquet(f"{args.output}/packed"),
            args.bucket_table, key="doc_id", num_buckets=64,
        )

    write_funnel(spark, res, args.output)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
