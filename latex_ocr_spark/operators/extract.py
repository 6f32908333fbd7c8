r"""Flagship operator: math-span extraction over a transcripts table.

Plan shape (SURVEY.md §3.1/§3.2 "Spark shape"):

    scan(transcripts)
      → JVM-side candidate prefilter ('$' | '\' | '&' containment —
        no turn without one of those bytes can yield a span)
      → salted shape-uniform repartition (hash(conv_id) % SALT, length
        bucket) + sortWithinPartitions(bucket) so every Arrow batch
        feeds the Python kernel near-uniform row costs (the reference's
        size-bucket batching, dataset.py:70-79, as skew mitigation)
      → mapInArrow(extract_spans_arrow)  [the only Python stage]
      → split: spans / failed-turn quarantine
      → stable ordering restored via window over (conv_id, turn_idx)

The prefilter is the scale lever: at 10¹²-turn scale the regex kernel
only ever sees candidate turns; everything else dies in the parquet
scan (predicate pushdown + column pruning — only conv_id, turn_idx,
text are read).
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from latex_ocr_spark.functions.udfs import FAILED_TURN_SPAN_IDX, extract_spans_arrow
from latex_ocr_spark.sources.tables import EXTRACTED_SCHEMA

DEFAULT_SALT_BUCKETS = 64


def candidate_filter(df: DataFrame) -> DataFrame:
    """Keep only turns that can possibly contain math.

    ``$`` (dollar math), ``\\`` (inline/env/displaystyle forms), ``&``
    (HTML entities that may decode to either).  Plain ``contains`` is a
    byte scan — cheaper than a regex and fully codegen'd.
    """
    text = F.col("text")
    return df.filter(
        text.isNotNull()
        & (text.contains("$") | text.contains("\\") | text.contains("&"))
    )


def shape_uniform_repartition(
    df: DataFrame,
    num_partitions: Optional[int] = None,
    salt_buckets: Optional[int] = None,
    bucket: Optional[str] = None,
) -> DataFrame:
    """Salted repartition on (hash(conv_id, turn_idx) % salt, bucket).

    The salt splits whale conversations across partitions; the bucket
    makes rows inside one Arrow batch cost-uniform for the Python
    kernel (long macro-heavy turns cluster together instead of
    straggling a mixed partition).  ``bucket`` names a kept column of
    ``df`` (inference's token bucket); by default it is the log₂ text
    length, dropped after the sort.
    """
    # guard: pmod(hash, lit(None)) is NULL for every row, silently
    # collapsing the salt — default rather than forward a None
    salt_buckets = salt_buckets or DEFAULT_SALT_BUCKETS
    dropped = ["_salt"]
    if bucket is None:
        bucket = "_len_bucket"
        dropped.append(bucket)
        df = df.withColumn(
            bucket, F.ceil(F.log2(F.length("text") + F.lit(2))).cast("int")
        )
    # (conv_id, turn_idx) salt: conv_id alone would pin whale
    # conversations to single partitions
    salted = df.withColumn(
        "_salt", F.pmod(F.hash("conv_id", "turn_idx"), F.lit(salt_buckets))
    )
    parts = [F.col("_salt"), F.col(bucket)]
    if num_partitions:
        repartitioned = salted.repartition(num_partitions, *parts)
    else:
        repartitioned = salted.repartition(*parts)
    return repartitioned.sortWithinPartitions(bucket).drop(*dropped)


def extract_spans(
    transcripts: DataFrame,
    repartition: Optional[int] = None,
    salt_buckets: Optional[int] = None,
) -> DataFrame:
    """Extracted math spans, failed turns dropped (reference policy).

    Default plan is shuffle-free: scan partitions stream straight into
    the Arrow UDF (bytes-per-task balancing from the scan is already
    cost-proportional for a regex kernel).  Pass ``salt_buckets``/
    ``repartition`` to interpose the salted shape-uniform exchange —
    required before the *inference* stage, where batch shape uniformity
    buys vectorization (the reference's size-bucket batching), and
    useful when upstream partitions are skewed in row size.
    """
    spans, _failed, _raw = extract_spans_with_failures(
        transcripts, repartition=repartition, salt_buckets=salt_buckets
    )
    return spans


def extract_spans_with_failures(
    transcripts: DataFrame,
    repartition: Optional[int] = None,
    salt_buckets: Optional[int] = None,
    persist_raw: bool = False,
) -> Tuple[DataFrame, DataFrame, Optional[DataFrame]]:
    """(spans, failed_turns, raw_handle) from one pass over the text.

    ``failed_turns`` carries the turns whose macro expansion blew up
    (quarantine table input, SURVEY.md §4 retry semantics).

    Both outputs filter the same UDF stage; a caller that materializes
    both should pass ``persist_raw=True`` so the Python stage runs
    once.  ``raw_handle`` is the persisted frame to ``unpersist()``
    after use (None unless ``persist_raw``) — returned explicitly so
    ownership of the cache is visible at the call site.
    """
    candidates = candidate_filter(
        transcripts.select("conv_id", "turn_idx", "text")
    )
    if repartition or salt_buckets:
        candidates = shape_uniform_repartition(
            candidates, num_partitions=repartition, salt_buckets=salt_buckets
        )
    raw = candidates.mapInArrow(extract_spans_arrow, schema=EXTRACTED_SCHEMA)
    if persist_raw:
        raw = raw.persist()
    spans = raw.filter(F.col("span_idx") != FAILED_TURN_SPAN_IDX)
    failed = raw.filter(F.col("span_idx") == FAILED_TURN_SPAN_IDX).select(
        "conv_id", "turn_idx"
    )
    return spans, failed, (raw if persist_raw else None)


def with_stable_order(spans: DataFrame) -> DataFrame:
    """Restore stable per-conversation ordering after any shuffle.

    Window over (conv_id) ordered by (turn_idx, span_idx) — the north
    rule's writeback ordering.  Partitioning by conv_id keeps the sort
    distributed (no global single-partition pass).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "span_idx")
    return spans.withColumn("conv_seq", F.row_number().over(w))
