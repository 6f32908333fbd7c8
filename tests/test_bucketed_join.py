"""Bucketed-table co-located join: both sides pre-shuffled at write
time, so the join plans with NO runtime exchange — the storage-layout
lever for repeated large-×-large joins at 100 TB."""

from pyspark.sql import functions as F

from latex_ocr_spark.sources.bucketed import colocated_join, write_bucketed


def test_bucketed_join_is_exchange_free(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    left = docs.select("doc_id", "lang")
    right = docs.select("doc_id", "n_chars")
    write_bucketed(left, "bkt_left", "doc_id", num_buckets=8)
    write_bucketed(right, "bkt_right", "doc_id", num_buckets=8)
    try:
        joined = colocated_join(spark, "bkt_left", "bkt_right", "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # bucketing consumed
        # and it's not just a plan trick — the join is correct
        assert joined.count() == docs.count()

        # control: the same join over plain parquet shuffles both sides
        plain = left.hint("merge").join(right, "doc_id")
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plain_plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")
