"""Per-partition lineage + metrics tables and checkpoint-resume.

Generalizes the reference's filesystem-as-state resume idiom
(render.py:47-53 re-derives the pending work list from already-written
outputs; arxiv.py:126-130 keeps a visited file) into Spark-native form:

- work is split into ``n_units`` deterministic units
  (``work_key = pmod(hash(conv_id), n_units)`` — whole conversations
  never straddle units, so per-conv ordering is local to one unit);
- the output table is partitioned by ``work_key`` (one file per unit)
  and written with dynamic partition overwrite → re-running a unit is
  idempotent;
- after each unit batch commits, a lineage row (turns with ≥ 1 span,
  spans, failed turns, wall time, order-independent checksum) is appended;
- resume = filter of the input by the collected set of completed
  lineage keys (SURVEY.md §2.1 S8, §2.3 J3) — only missing units run.

Crash safety: output commits before lineage; a crash in between makes
the unit re-run (dynamic overwrite replaces its directory), never
duplicate or drop rows.
"""

from __future__ import annotations

import time
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from latex_ocr_spark.session import has_data

DEFAULT_UNITS = 64


def with_work_key(transcripts: DataFrame, n_units: int = DEFAULT_UNITS) -> DataFrame:
    return transcripts.withColumn(
        "work_key", F.pmod(F.hash("conv_id"), F.lit(n_units))
    )


def completed_units(spark: SparkSession, lineage_path: str) -> DataFrame:
    """Work keys with a committed lineage row (empty DF when no runs yet)."""
    # "no runs yet" is a path without a visible file (missing, or only
    # the lease's lock): an empty relation the optimizer folds into a
    # local scan, so collecting it runs no job.  A lineage file that
    # fails to read still raises rather than silently re-extracting
    # every unit and appending a second lineage row for each.  Declared,
    # not inferred: no schema-inference job
    if not has_data(spark, lineage_path):
        empty = spark.range(0).select(F.col("id").cast("int").alias("work_key"))
        return empty.where(F.lit(False))
    return spark.read.schema("work_key int").parquet(lineage_path).distinct()


def _done_keys(spark: SparkSession, lineage_path: str) -> list:
    return [r.work_key for r in completed_units(spark, lineage_path).collect()]


def _without(transcripts: DataFrame, done: list, n_units: int) -> DataFrame:
    keyed = with_work_key(transcripts, n_units)
    return keyed.filter(~F.col("work_key").isin(done)) if done else keyed


def pending_work(
    transcripts: DataFrame, spark: SparkSession, lineage_path: str, n_units: int = DEFAULT_UNITS
) -> DataFrame:
    return _without(transcripts, _done_keys(spark, lineage_path), n_units)


def _unit_checksum(rows: str):
    """Order-independent content checksum per unit: XOR of the hashes of
    the rows matching the SQL predicate ``rows`` (the others hash to
    NULL, which ``bit_xor`` skips).  Survives any partitioning/ordering;
    two runs of the same unit match iff their row multisets match
    (xxhash64 collisions aside)."""
    return F.expr(f"bit_xor(CASE WHEN {rows} THEN xxhash64(concat_ws("
                  "'', conv_id, turn_idx, span_idx, raw_match, latex_norm)) END)")


def run_resumable_extract(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    lineage_path: str,
    n_units: int = DEFAULT_UNITS,
    fail_on_units: Optional[set] = None,
) -> int:
    """Extract spans for all not-yet-completed units; return how many
    units were (re)processed.  ``fail_on_units`` injects a crash after
    the output commit of the listed units — test hook for the
    crash-between-commits window.

    The pending units are an observation on the extraction's own scan
    (read after the output write), so no job probes the input first.
    Only the extraction UDF runs in Python.  The spans are written one
    file per unit; the lineage rows come from one aggregation over the
    cached extraction frame, with ``n_turns`` = turns with ≥ 1 span.

    Single-writer: holds a lease on the lineage dir for the run — two
    concurrent extract jobs would compute the same pending set, race
    dynamic overwrites of the same work_key directories, and append
    lineage rows describing each other's bytes (the same interleaving
    the funnel's CheckpointLease fences).  A second run fails loudly;
    a crashed run's lease auto-releases (flock).  Skipped for
    URI-scheme lineage paths, where the local-fs lease cannot see
    anything — see lease.py for the object-store note.  The lock file
    lives inside the lineage dir; Spark's parquet reader ignores
    underscore-prefixed files.
    """
    from contextlib import nullcontext

    from latex_ocr_spark import lease as lease_mod

    fence = (
        nullcontext()
        if lease_mod.is_uri_path(lineage_path)
        else lease_mod.DirLease(lineage_path, role="extract job")
    )
    with fence:
        return _run_resumable_extract_locked(
            spark, transcripts, output_path, lineage_path, n_units,
            fail_on_units,
        )


def _run_resumable_extract_locked(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    lineage_path: str,
    n_units: int,
    fail_on_units: Optional[set],
) -> int:
    from latex_ocr_spark.functions.udfs import FAILED_TURN_SPAN_IDX
    from latex_ocr_spark.operators.dedup import _maybe_broadcast
    from latex_ocr_spark.operators.extract import extract_spans_with_failures

    done = _done_keys(spark, lineage_path)
    if set(range(n_units)) <= set(done):
        return 0
    # the pending units are observed on the extraction's own scan, before
    # the candidate filter: a unit whose turns all lack math still counts
    seen = Observation()
    pending = _without(transcripts, done, n_units).observe(
        seen, F.collect_set("work_key").alias("units")
    )

    started = time.time()
    raw_handle = None
    try:
        spans, _, raw_handle = extract_spans_with_failures(
            pending.select("conv_id", "turn_idx", "text"), persist_raw=True
        )

        # 1. output commit — dynamic overwrite touches only pending units'
        # directories (never rewrites completed ones), one file per unit.
        # A per-write option, as in streaming/sinks.py: flipping the
        # session conf would race any other query committing meanwhile
        out = with_work_key(spans, n_units).repartition("work_key")
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("work_key")
            .parquet(output_path)
        )
        unit_rows = seen.get["units"]
        if not unit_rows:  # every input unit is done already
            return 0

        if fail_on_units and set(unit_rows) & set(fail_on_units):
            raise RuntimeError("injected crash between output and lineage commit")

        # 2. lineage commit (append) — marks the units done.  Spans are
        # numbered densely from 0: a turn has span 0 iff it has >= 1 span
        span_row = f"span_idx != {FAILED_TURN_SPAN_IDX}"
        metrics = with_work_key(raw_handle, n_units).groupBy("work_key").agg(
            F.count_if(F.col("span_idx") == 0).alias("n_turns"),
            F.count_if(F.expr(span_row)).alias("n_spans"),
            _unit_checksum(span_row).alias("checksum"),
            F.count_if(F.col("span_idx") == FAILED_TURN_SPAN_IDX).alias("n_failed"),
        )
        # every pending unit gets a lineage row (zeros when it yielded
        # no rows); ``metrics`` holds at most one row per pending unit,
        # so under the size gate the join broadcasts it instead of
        # shuffling both sides
        units = spark.range(n_units).filter(F.col("id").isin(unit_rows))
        metrics = (
            units.select(F.col("id").cast("int").alias("work_key"))
            .join(_maybe_broadcast(metrics, len(unit_rows)), "work_key", "left")
            .na.fill({"n_turns": 0, "n_spans": 0, "n_failed": 0, "checksum": 0})
            .withColumn("started", F.lit(int(started)).cast("long"))
            .withColumn("finished", F.lit(int(time.time())).cast("long"))
            .withColumn("attempt", F.lit(1))
        )
        metrics.write.mode("append").parquet(lineage_path)
    finally:
        # any failure path must not leave the raw extraction frame cached
        if raw_handle is not None:
            raw_handle.unpersist()
    return len(unit_rows)


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.parquet(output_path)
