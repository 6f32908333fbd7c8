"""SQL-surface parity: spark.sql extraction == the DataFrame pipeline."""

from latex_ocr_spark.functions.sqlapi import register_sql_functions
from latex_ocr_spark.operators.extract import extract_spans
from latex_ocr_spark.sources.tables import synth_transcripts


def test_sql_extraction_matches_pipeline(spark):
    register_sql_functions(spark)
    t = synth_transcripts(spark, 40)
    t.createOrReplaceTempView("transcripts_sql_test")

    sql_rows = spark.sql(
        """
        SELECT conv_id, turn_idx, pos AS span_idx, col AS raw_match
        FROM transcripts_sql_test
        LATERAL VIEW posexplode(extract_math(text)) AS pos, col
        """
    ).collect()
    got = sorted((r.conv_id, r.turn_idx, r.span_idx, r.raw_match) for r in sql_rows)

    df_rows = extract_spans(t.select("conv_id", "turn_idx", "text")).collect()
    expected = sorted((r.conv_id, r.turn_idx, r.span_idx, r.raw_match) for r in df_rows)
    assert got == expected and len(got) > 100


def test_sql_scalar_functions(spark):
    register_sql_functions(spark)
    row = spark.sql(
        r"""
        SELECT latex_post_process('x ^ { 2 } + y') AS pp,
               latex_katex_normalize('\\frac{1}{2} + x_i - y^2') AS kx,
               bpe_encode('\\frac{1}{2}') AS ids
        """
    ).collect()[0]
    assert row.pp == "x^{2}+y"
    assert row.kx is not None and row.kx.startswith("\\frac")
    assert row.ids[0] == 1 and row.ids[-1] == 2
