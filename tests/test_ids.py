"""Distributed global-id assignment: value parity with the global
window form, and the plan-shape guarantee (no single-partition
exchange) that is the whole point of the operator."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from latex_ocr_spark.operators.ids import with_global_ids


def test_matches_global_window(spark):
    df = spark.range(0, 10007).select(
        (F.col("id") * 37 % 10007).alias("k"), F.col("id").alias("payload")
    )
    got = {
        r.k: r.gid
        for r in with_global_ids(df, ["k"], id_col="gid", num_partitions=8).collect()
    }
    want = {
        r.k: r.gid
        for r in df.select(
            "k", F.row_number().over(Window.orderBy("k")).cast("long").alias("gid")
        ).collect()
    }
    assert got == want
    assert sorted(got.values()) == list(range(1, 10008))  # contiguous 1..N


def test_start_offset_and_payload_preserved(spark):
    df = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    rows = sorted(
        with_global_ids(df, ["k"], id_col="gid", start=100, num_partitions=3).collect(),
        key=lambda r: r.k,
    )
    assert [r.gid for r in rows] == [100, 101, 102, 103, 104]
    assert [r.v for r in rows] == [0, 2, 4, 6, 8]


def test_empty_input(spark):
    df = spark.range(0).select(F.col("id").alias("k"))
    out = with_global_ids(df, ["k"], id_col="gid")
    assert out.count() == 0
    assert "gid" in out.columns


def test_no_single_partition_exchange(spark):
    """The naive global window plans an Exchange SinglePartition; the
    distributed assignment must not."""
    df = spark.range(0, 1000).select((F.col("id") % 997).alias("k"))
    naive = df.select(F.row_number().over(Window.orderBy("k")).alias("gid"), "k")
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in naive_plan  # guard: the probe detects it

    dist = with_global_ids(spark.range(0, 1000).select(F.col("id").alias("k")), ["k"])
    dist_plan = dist._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in dist_plan


def test_w6_and_corpus_build_plans_have_no_global_window(spark, sf_small):
    from latex_ocr_spark.plans.registry import QUERIES

    for name in ("w6_line_numbering", "corpus_build"):
        plan = (
            QUERIES[name](spark, sf_small)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SinglePartition" not in plan, name


def test_property_random_sizes_and_partitions(spark):
    """Property check across awkward shapes: duplicate-free contiguous
    ids matching the sort order, any (n, partitions, start)."""
    import random

    rng = random.Random(7)
    for _ in range(6):
        n = rng.choice([1, 2, 7, 100, 1017])
        parts = rng.choice([1, 3, 8, 40])  # more partitions than rows too
        start = rng.choice([0, 1, 1000])
        df = spark.range(n).select(
            ((F.col("id") * 2654435761) % 2**31).alias("k")
        )
        got = with_global_ids(df, ["k"], id_col="gid", start=start,
                              num_partitions=parts).collect()
        assert sorted(r.gid for r in got) == list(range(start, start + n)), (n, parts)
        by_order = sorted(got, key=lambda r: r.k)
        assert [r.gid for r in by_order] == list(range(start, start + n)), (n, parts)
