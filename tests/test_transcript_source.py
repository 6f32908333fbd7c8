"""The flagship input seam: read_transcripts accepts a parquet path or
a catalog table identifier (the surface an Iceberg table plugs into via
Spark's DataSourceV2 catalog API — exercised here with the built-in
catalog, since the Iceberg runtime jar is not in this container)."""

import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.operators.extract import extract_spans, with_stable_order
from latex_ocr_spark.sources.tables import read_transcripts, synth_transcripts


def _drop_table(spark, name):
    """DROP TABLE + remove the managed location: the in-memory catalog
    forgets tables between sessions but the warehouse directory
    persists, and a later saveAsTable fails with
    LOCATION_ALREADY_EXISTS."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{name}", ignore_errors=True)


@pytest.fixture(scope="module")
def transcript_sources(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tsrc") / "transcripts")
    df = synth_transcripts(spark, 40, parallelism=4)
    df.write.mode("overwrite").parquet(path)
    _drop_table(spark, "transcripts_tbl")
    df.write.mode("overwrite").saveAsTable("transcripts_tbl")
    yield path, "transcripts_tbl"
    for t in ("transcripts_tbl", "not_transcripts", "transcripts_wide"):
        _drop_table(spark, t)


def test_path_and_catalog_reads_are_equivalent(spark, transcript_sources):
    path, table = transcript_sources
    via_path = read_transcripts(spark, path)
    via_catalog = read_transcripts(spark, table)
    assert via_path.columns == via_catalog.columns
    a = sorted(map(tuple, via_path.collect()))
    b = sorted(map(tuple, via_catalog.collect()))
    assert a == b and len(a) > 0


def test_full_pipeline_runs_over_catalog_table(spark, transcript_sources):
    _path, table = transcript_sources
    spans = with_stable_order(extract_spans(read_transcripts(spark, table)))
    rows = spans.collect()
    assert rows and all(r.latex_norm for r in rows)


def test_catalog_read_keeps_pushdown_and_pruning(spark, transcript_sources):
    """The reason the seam is safe at 10^12 turns: filters and column
    pruning reach the scan through spark.read.table exactly as through
    the path read (Iceberg additionally file-skips on these pushed
    predicates)."""
    _path, table = transcript_sources
    df = read_transcripts(spark, table).filter(F.col("conv_id") == "conv-000001").select(
        "conv_id", "turn_idx"
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "PushedFilters" in plan and "conv-000001" in plan
    assert "text" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_wrong_schema_fails_at_plan_time(spark):
    _drop_table(spark, "not_transcripts")
    spark.range(5).selectExpr("id AS conv_id", "id AS other").write.saveAsTable(
        "not_transcripts"
    )
    with pytest.raises(ValueError, match="does not match the input schema"):
        read_transcripts(spark, "not_transcripts")


def test_extra_columns_are_pruned_and_order_fixed(spark, transcript_sources):
    path, _table = transcript_sources
    widened = spark.read.parquet(path).withColumn("extra", F.lit(1))
    _drop_table(spark, "transcripts_wide")
    widened.write.saveAsTable("transcripts_wide")
    df = read_transcripts(spark, "transcripts_wide")
    assert df.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
