"""The curation CLI, defined once for jobs/curate_job.py and
jobs/prepare_job.py: the input flags and their reader, the curation
flags, the choice between the funnel's two runners, and the funnel
artifact both jobs write."""

from __future__ import annotations

import argparse
import json
import sys
from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from latex_ocr_spark.plans.curate import CurationResult, curate_corpus
from latex_ocr_spark.plans.resumable import curate_corpus_resumable


def add_input_args(ap: argparse.ArgumentParser) -> None:
    """Declare the documents/eval-set input flags; :func:`read_inputs`
    consumes them."""
    ap.add_argument("--input", help="documents source: parquet path, JSONL "
                    "shards, or catalog table")
    ap.add_argument("--input-format", choices=("jsonl", "parquet", "table"),
                    help="override --input auto-detection (a DIRECTORY of "
                         "JSONL shards has no suffix to sniff)")
    ap.add_argument("--evalset-format", choices=("jsonl", "parquet", "table"),
                    help="override --evalset auto-detection (kept separate "
                         "from --input-format: a mixed-format run must not "
                         "parse the eval parquet as JSON)")
    ap.add_argument("--string-ids", action="store_true",
                    help="JSONL doc_id values are strings (the default long "
                         "schema would PERMISSIVE-null string ids and "
                         "silently empty the corpus)")
    ap.add_argument("--failfast", action="store_true",
                    help="abort on the first malformed JSONL line instead "
                         "of the PERMISSIVE null-row contract")
    ap.add_argument("--synth", type=int, help="synthesize N documents instead")
    ap.add_argument("--evalset", help="benchmark/eval documents (same shapes)")


def add_curation_args(ap: argparse.ArgumentParser) -> None:
    """Declare the curation flags; :func:`curate_from_args` consumes
    them."""
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--max-punct-ratio", type=float, default=0.3)
    ap.add_argument("--dedup-threshold", type=float, default=0.5)
    ap.add_argument("--near-dup-method", choices=("lsh", "jaccard"), default="lsh",
                    help="near-dup pair generator: LSH+verify (scale path) or exact capped Jaccard")
    ap.add_argument("--ngram", type=int, default=1)
    ap.add_argument("--max-df", type=int,
                    help="hot-shingle cap (jaccard method only; default 1000)")
    ap.add_argument("--max-bucket-size", type=int,
                    help="degenerate-bucket cap (lsh method only)")
    ap.add_argument("--num-hashes", type=int, default=8)
    ap.add_argument("--band-size", type=int, default=2)
    ap.add_argument("--redact", action="store_true",
                    help="scrub emails/URLs/number shapes before any hashing")
    ap.add_argument("--sample-fraction", type=float,
                    help="deterministic down-sample after decontamination")
    ap.add_argument("--val-fraction", type=float, default=0.1)
    ap.add_argument("--seed", default="split-seed-1")
    ap.add_argument("--auto-knobs", action="store_true",
                    help="pre-flight survey the input and fill every "
                         "blowup/recall knob left at its default "
                         "(operators/advisor.py; explicit non-default "
                         "flags win)")
    ap.add_argument("--auto-knobs-sample", type=float,
                    help="survey on this deterministic sample fraction "
                         "instead of the full input (0.01-0.001 at "
                         "corpus scale)")
    ap.add_argument("--checkpoint-dir",
                    help="make the funnel checkpoint-resumable "
                         "(plans/resumable.py): stage artifacts + lineage "
                         "land here and a killed run re-executes only "
                         "unfinished stages")


def read_inputs(
    spark: SparkSession, args: argparse.Namespace, ap: argparse.ArgumentParser
) -> Tuple[DataFrame, Optional[DataFrame]]:
    """(documents, eval set or None) from the :func:`add_input_args`
    flags: a parquet path, JSONL shards (.jsonl[.gz] — explicit schema,
    no inference pass) or a catalog table; ``--synth N`` generates N
    synthetic documents for a no-data smoke run."""
    from latex_ocr_spark.sources.documents import read_documents

    def load_docs(source: str, source_format: Optional[str]) -> DataFrame:
        return read_documents(
            spark, source, source_format=source_format,
            id_type=T.StringType() if args.string_ids else None,
            mode="FAILFAST" if args.failfast else "PERMISSIVE",
        )

    if args.synth is not None:
        if args.synth <= 0:
            ap.error("--synth must be a positive document count")
        docs = spark.range(args.synth).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("sa"), F.col("id").cast("string"),
                F.lit(" sb"), (F.col("id") * 3).cast("string"),
                F.lit(" sc"), (F.col("id") * 7).cast("string"),
                F.lit(" sd"), (F.col("id") * 11).cast("string"),
                F.lit(" se"), (F.col("id") * 13).cast("string"),
            ).alias("text"),
        )
    elif args.input:
        docs = load_docs(args.input, args.input_format)
    else:
        ap.error("one of --input/--synth is required")
    evalset = (
        load_docs(args.evalset, args.evalset_format) if args.evalset else None
    )
    return docs, evalset


def apply_auto_knobs(
    docs: DataFrame, args: argparse.Namespace, ap: argparse.ArgumentParser
) -> None:
    """``--auto-knobs``: survey the input and fill the curation knobs
    left at their parser defaults, logging what was applied to
    stderr."""
    if args.auto_knobs:
        from latex_ocr_spark.operators.advisor import resolve_auto_knobs

        applied = resolve_auto_knobs(
            docs, args, ap, sample_fraction=args.auto_knobs_sample
        )
        print(json.dumps({"auto_knobs": applied}), file=sys.stderr)


def curate_from_args(
    spark: SparkSession, docs: DataFrame, evalset: Optional[DataFrame],
    args: argparse.Namespace,
) -> CurationResult:
    """Run the funnel the :func:`add_curation_args` flags ask for: with
    ``--checkpoint-dir`` the checkpoint runner (the funnel is assembled
    from the stage lineage and ``documents`` is the checkpoint's own
    artifact), else the in-memory runner in deferred mode — the
    caller's FULL sink write resolves the funnel observations, so call
    ``resolve_funnel()`` after it (a no-op for the checkpoint
    runner)."""
    kw = dict(
        min_tokens=args.min_tokens,
        max_punct_ratio=args.max_punct_ratio,
        dedup_threshold=args.dedup_threshold,
        near_dup_method=args.near_dup_method,
        ngram=args.ngram,
        num_hashes=args.num_hashes,
        band_size=args.band_size,
        max_bucket_size=args.max_bucket_size,
        max_df=args.max_df,
        redact=args.redact,
        sample_fraction=args.sample_fraction,
        val_fraction=args.val_fraction,
        seed=args.seed,
    )
    if args.checkpoint_dir:
        return curate_corpus_resumable(
            spark, docs, args.checkpoint_dir, evalset, **kw
        )
    return curate_corpus(docs, evalset, collect_funnel=False, **kw)


def write_funnel(spark: SparkSession, res: CurationResult, output: str) -> None:
    """Write the resolved funnel to ``<output>/funnel`` (one JSON line)
    and print it.  A non-empty input curated down to NOTHING is almost
    always a mis-read corpus (wrong id type / wrong format parsing every
    row to NULL), not a real curation outcome — say so loudly."""
    funnel = {s: {"in": i, "out": o} for s, i, o in res.funnel}
    if funnel["split"]["out"] == 0 and funnel["quality_gates"]["in"] > 0:
        print(
            "WARNING: 0 documents survived the funnel from "
            f"{funnel['quality_gates']['in']} inputs — check --input-format/"
            "--string-ids (a mis-typed JSONL schema NULLs every id under "
            "PERMISSIVE parsing)",
            file=sys.stderr,
        )
    # write through Spark so object-store outputs (s3://…) work — a
    # driver-local open() would silently strand the funnel on the node
    spark.range(1).select(F.lit(json.dumps(funnel)).alias("funnel")).coalesce(
        1
    ).write.mode("overwrite").text(f"{output}/funnel")
    print(json.dumps(funnel))
