#!/usr/bin/env python
"""Production entry point: full corpus-curation funnel.

    spark-submit --py-files latex_ocr_spark.zip \
        jobs/curate_job.py \
        --input  s3://bucket/documents/        \
        --evalset s3://bucket/benchmarks/      \
        --output s3://bucket/curated/

Runs quality gates → exact dedup → near-dup clustering →
decontamination → cluster-safe split (plans/curate.py) and writes:

    <output>/documents/   surviving docs + split column
    <output>/report/      contamination report (if --evalset)
    <output>/clusters/    duplicate clusters
    <output>/funnel/      docs in/out per stage (one JSON line,
                          written through Spark so s3:// outputs work)

``--synth N`` generates N synthetic documents for a no-data smoke run.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from latex_ocr_spark.plans.curate_cli import (
        add_curation_args,
        add_input_args,
        apply_auto_knobs,
        curate_from_args,
        read_inputs,
        write_funnel,
    )

    ap = argparse.ArgumentParser()
    add_input_args(ap)
    ap.add_argument("--output", required=True)
    add_curation_args(ap)
    args = ap.parse_args()

    from latex_ocr_spark.session import get_spark

    spark = get_spark("curate_job")
    docs, evalset = read_inputs(spark, args, ap)
    apply_auto_knobs(docs, args, ap)
    res = curate_from_args(spark, docs, evalset, args)
    # in-memory runner: this sink write is the action that resolves the
    # funnel observations — no dedicated count pass.  Checkpoint runner:
    # it copies the checkpoint's documents artifact to the output sink
    res.documents.write.mode("overwrite").parquet(f"{args.output}/documents")
    res.resolve_funnel()
    if res.contamination_report is not None:
        res.contamination_report.write.mode("overwrite").parquet(f"{args.output}/report")
    res.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    write_funnel(spark, res, args.output)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
