#!/usr/bin/env python
"""Extra benchmarks for optimization work (guide §1) — NOT the driver's
bench.  ``bench.py`` is frozen for measurement; this harness exists to
isolate individual queries with the noop sink, label jobs, capture
``explain("formatted")`` plans, and time sub-stages, at any sf dir.

Usage:
    python bench_extra.py --sf-dir /root/testdata/sf1.0 \
        --queries dedup_lsh_jaccard,dedup_embedding --runs 2
    python bench_extra.py --sf-dir /root/testdata/sf0.1 \
        --explain-dir plans/r07 --suffix before
Prints one JSON line per query: {"query", "sf", "secs": [...],
"best", "plan_cost"}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import (  # noqa: E402
    HEADLINE,
    _exec_marker,
    _noop_write,
    _plan_cost,
    run_curate_funnel,
    run_prepare_pipeline,
)

ALL = ["extract_transcripts"] + HEADLINE + ["curate_funnel", "prepare_pipeline"]


def _build(name, spark, sf_dir):
    """DataFrame for a registry query (None for the composed runners)."""
    from latex_ocr_spark.plans.registry import QUERIES

    if name in QUERIES:
        return QUERIES[name](spark, sf_dir)
    return None


def _build_explained(name, spark, sf_dir):
    """DataFrame whose plan stands for ``name`` in the explain capture —
    including the composed runners (the final frame of each) and the
    flagship (the extraction pipeline over the materialized table)."""
    import bench as B

    df = _build(name, spark, sf_dir)
    if df is not None:
        return df
    if name == "extract_transcripts":
        from latex_ocr_spark.operators.extract import extract_spans, with_stable_order

        path = f"/tmp/bench_transcripts_{B.BENCH_CONVS}_p64"
        return with_stable_order(extract_spans(spark.read.parquet(path)))
    res = B.build_curated(spark, sf_dir)
    return res.documents if name == "curate_funnel" else B.build_packed(res)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=",".join(ALL))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--explain-dir", default=None,
                    help="write <query>_<suffix>.txt explain('formatted') files here")
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    from latex_ocr_spark import cachepool
    from latex_ocr_spark.session import get_spark

    spark = get_spark("bench_extra", cores=args.cores, shuffle_partitions=args.cores)
    spark.range(1000).count()  # JVM warmup

    names = [q.strip() for q in args.queries.split(",") if q.strip()]
    results = {}
    for name in names:
        secs = []
        cost = None
        for attempt in range(args.runs):
            cachepool.release()
            spark.sparkContext.setJobDescription(f"{name} [{attempt}]")
            marker = _exec_marker(spark)
            t0 = time.time()
            if name == "curate_funnel":
                run_curate_funnel(spark, args.sf_dir)
            elif name == "prepare_pipeline":
                run_prepare_pipeline(spark, args.sf_dir)
            elif name == "extract_transcripts":
                os.environ.setdefault("SPARK_GRAFT_BENCH_RUNS", "1")
                from bench import BENCH_CONVS, run_flagship

                sec, cost = run_flagship(spark, BENCH_CONVS, parallelism=args.cores)
                secs.append(round(sec, 3))
                spark.sparkContext.setJobDescription(None)
                continue
            else:
                _noop_write(_build(name, spark, args.sf_dir))
            secs.append(round(time.time() - t0, 3))
            cost = _plan_cost(spark, marker)
            spark.sparkContext.setJobDescription(None)
        cachepool.release()
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = _build_explained(name, spark, args.sf_dir)
            path = os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            cachepool.release()
        results[name] = {"secs": secs, "best": min(secs), "plan_cost": cost}
        print(json.dumps({"query": name, "sf": args.sf_dir, **results[name]}),
              flush=True)
    print(json.dumps({"summary": {k: v["best"] for k, v in results.items()},
                      "sf": args.sf_dir}))


if __name__ == "__main__":
    main()
