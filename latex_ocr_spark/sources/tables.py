"""Readers for the driver-provided parquet tables and the synthetic
transcripts source.

Transcript synthesis is fully distributed: conversation ids are dealt
across executors with ``spark.range`` and each executor materializes
its conversations independently (every field of a row is a pure
function of (conv, turn) — see datagen.transcripts).  At 10¹²-turn
scale the same pattern applies with a larger range; no driver-side
materialization ever happens.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from latex_ocr_spark.functions.arrowcols import map_rows

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("span_idx", T.IntegerType(), False),
        T.StructField("raw_match", T.StringType(), False),
        T.StructField("latex_norm", T.StringType(), False),
    ]
)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


#: spark-submit configuration for the production deployment, where the
#: transcripts live in an Iceberg table (BASELINE.json north rule).
#: Iceberg implements Spark's DataSourceV2 catalog API, so the entire
#: pipeline below reads it through the same ``spark.read.table`` call
#: this repo tests against the built-in catalog — column pruning and
#: partition/file pruning ride through unchanged, plus Iceberg adds
#: metadata-level min/max file skipping on the pushed filters.
#: (Public coordinates; the jar is not in this container, so the
#: catalog seam is exercised with spark_catalog-managed tables.)
ICEBERG_SUBMIT_CONF = {
    # the runtime artifact is built per Spark minor — match it to the
    # cluster's Spark (this repo runs Spark 4.1.x, hence runtime-4.1;
    # a 3.5 cluster would ship iceberg-spark-runtime-3.5_2.12)
    "spark.jars.packages": "org.apache.iceberg:iceberg-spark-runtime-4.1_2.13:1.10.0",
    "spark.sql.extensions": (
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
    ),
    "spark.sql.catalog.lake": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.lake.type": "hadoop",  # or 'hive'/'rest' per deployment
    "spark.sql.catalog.lake.warehouse": "<warehouse-uri>",
}


def looks_like_path(source: str) -> bool:
    """Heuristic shared by every path-or-catalog-identifier input seam
    (read_transcripts, jobs/*): filesystem path if it has a separator,
    a storage scheme, a .parquet suffix (bare relative filename), or
    exists locally; otherwise a catalog table identifier."""
    return (
        os.sep in source
        or source.startswith(("file:", "s3:", "s3a:", "gs:", "abfs:", "hdfs:"))
        or source.endswith(".parquet")
        or os.path.exists(source)
    )


def read_transcripts(spark: SparkSession, source: str) -> DataFrame:
    """The flagship input: a transcripts table with the BASELINE.json
    input_hint schema (conv_id, turn_idx, role, text, tool, ts).

    ``source`` is either a filesystem path (read as parquet — the test
    substrate) or a catalog table identifier such as
    ``lake.db.transcripts`` (read via ``spark.read.table`` — how an
    Iceberg table is addressed once the catalog is configured, see
    :data:`ICEBERG_SUBMIT_CONF`).  Both return the same logical plan
    shape; everything downstream is source-agnostic.

    The schema is validated eagerly: a wrong table wired into a
    10¹²-turn job should fail at plan time, not after an hour of
    extraction.
    """
    df = spark.read.parquet(source) if looks_like_path(source) else spark.read.table(source)
    want = {f.name: f.dataType for f in TRANSCRIPTS_SCHEMA.fields}
    have = {f.name: f.dataType for f in df.schema.fields}
    missing = {n: t for n, t in want.items() if have.get(n) != t}
    if missing:
        raise ValueError(
            f"transcripts source {source!r} does not match the input schema; "
            f"missing/mistyped columns: {missing} (have: {have})"
        )
    return df.select(*want)  # prune extra columns, fix column order


def synth_transcripts(
    spark: SparkSession, n_convs: int, parallelism: Optional[int] = None
) -> DataFrame:
    """Distributed deterministic transcript table with ``n_convs``
    conversations (seed-stable; see FIXTURES.md §1)."""

    def make_row():
        # import inside the task so executors resolve the module themselves
        from latex_ocr_spark.datagen.transcripts import conv_length, make_turn

        return lambda conv: [make_turn(conv, turn) for turn in range(conv_length(conv))]

    convs = spark.range(n_convs)
    if parallelism:
        convs = convs.repartition(parallelism)
    return map_rows(convs, make_row, ["id"], TRANSCRIPTS_SCHEMA.fields, keep=[])
