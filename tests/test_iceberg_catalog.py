"""Hard coverage for the Iceberg catalog seam — when the runtime jar is
present.

``sources.tables.read_transcripts`` addresses a catalog table through
``spark.read.table`` (the DataSourceV2 path Iceberg implements); this
repo's container has no ``iceberg-spark-runtime`` jar and no network,
so the seam is normally argued by equivalence against the built-in
catalog (tests/test_transcript_source.py).  These tests upgrade that
argument to executed coverage in any environment that has the jar on
the classpath (see ``ICEBERG_SUBMIT_CONF`` for the public
coordinates): they configure a hadoop-type catalog at a temp warehouse
at runtime (catalog plugins load lazily — no static conf needed for
plain reads/writes), write the synthetic transcripts table through the
V2 ``writeTo`` API, and drive ``read_transcripts`` + the extraction
kernel over it.  Here they skip with an explicit reason.
"""

import shutil
import tempfile

import pytest

from latex_ocr_spark.sources.tables import (
    TRANSCRIPTS_SCHEMA,
    read_transcripts,
    synth_transcripts,
)

IMPL = "org.apache.iceberg.spark.SparkCatalog"


def _iceberg_on_classpath(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(IMPL)
        return True
    except Exception:
        return False


@pytest.fixture
def ice_catalog(spark):
    if not _iceberg_on_classpath(spark):
        pytest.skip(
            "iceberg-spark-runtime not on the classpath — seam covered "
            "by the built-in-catalog equivalence tests instead"
        )
    # UNIQUE catalog name per test: Spark caches a catalog plugin
    # instance after first use, so re-pointing an existing name's
    # warehouse conf would be a silent no-op (the second test's tables
    # would land in the first test's deleted warehouse)
    import uuid

    catalog = f"icetest_{uuid.uuid4().hex[:8]}"
    wh = tempfile.mkdtemp(prefix="ice_wh_")
    spark.conf.set(f"spark.sql.catalog.{catalog}", IMPL)
    spark.conf.set(f"spark.sql.catalog.{catalog}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{catalog}.warehouse", wh)
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.db")
    yield catalog
    spark.sql(f"DROP TABLE IF EXISTS {catalog}.db.transcripts")
    spark.sql(f"DROP TABLE IF EXISTS {catalog}.db.badschema")
    shutil.rmtree(wh, ignore_errors=True)


def test_read_transcripts_from_real_iceberg_table(spark, ice_catalog):
    """The production path end-to-end: V2 write into an Iceberg
    hadoop catalog, read back through read_transcripts (schema
    validated at plan time), extraction kernel equal to the
    path-based substrate."""
    from latex_ocr_spark.operators.extract import extract_spans

    src = synth_transcripts(spark, 30)
    src.writeTo(f"{ice_catalog}.db.transcripts").using("iceberg").createOrReplace()

    df = read_transcripts(spark, f"{ice_catalog}.db.transcripts")
    assert [f.name for f in df.schema.fields] == [
        f.name for f in TRANSCRIPTS_SCHEMA.fields
    ]
    assert df.count() == src.count()

    got = sorted(
        map(tuple, extract_spans(df).select("conv_id", "turn_idx", "latex_norm").collect())
    )
    want = sorted(
        map(tuple, extract_spans(src).select("conv_id", "turn_idx", "latex_norm").collect())
    )
    assert got == want and got


def test_read_transcripts_validates_iceberg_schema_at_plan_time(spark, ice_catalog):
    """A mis-shaped catalog table must fail at plan time (the 10¹²-turn
    contract), same as the path substrate."""
    spark.range(5).selectExpr("CAST(id AS STRING) AS conv_id", "id AS other").writeTo(
        f"{ice_catalog}.db.badschema"
    ).using("iceberg").createOrReplace()
    with pytest.raises(ValueError, match="does not match the input schema"):
        read_transcripts(spark, f"{ice_catalog}.db.badschema")
