"""Physical-plan guarantees the oracle comparison can't see: filters
reach the parquet scan, projections prune the read schema, small join
sides broadcast, and aggregations keep their partial (map-side) step.
These are the properties that decide whether a plan survives 100×
scale — asserted here so a regression shows up as a red test, not as
a slow cluster."""

from latex_ocr_spark.plans.registry import QUERIES


def _plan(spark, sf, name):
    df = QUERIES[name](spark, sf)
    # the formatted explain carries full PushedFilters/ReadSchema text
    # (executedPlan().toString() truncates long expression lists)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_range_filter_pushed_to_scan(spark, sf_small):
    plan = _plan(spark, sf_small, "f1_dim_range")
    assert "PushedFilters" in plan
    # both range bounds of both columns reach the reader
    for frag in (
        "GreaterThanOrEqual(l_quantity,10",
        "LessThanOrEqual(l_quantity,40",
        "GreaterThanOrEqual(l_extendedprice,1000",
        "LessThanOrEqual(l_extendedprice,50000",
    ):
        assert frag in plan, frag


def test_column_pruning_reaches_scan(spark, sf_small):
    plan = _plan(spark, sf_small, "f1_dim_range")
    # 16-column lineitem: the scan must read only the two filter/agg cols
    assert "l_quantity" in plan and "l_extendedprice" in plan
    assert "l_comment" not in plan and "l_shipmode" not in plan

    plan = _plan(spark, sf_small, "x1_math_spans")
    assert "ReadSchema: struct<doc_id:bigint>" in plan  # text/lang/n_chars pruned


def test_star_join_broadcasts_dims(spark, sf_small):
    plan = _plan(spark, sf_small, "j1_index_equijoin")
    # two joins, both broadcast (formatted mode prints each node twice:
    # once in the tree, once as a detail section)
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_agg_keeps_partial_step(spark, sf_small):
    # partial_ aggregate functions = map-side combine before the shuffle
    plan = _plan(spark, sf_small, "a3_pricing_summary")
    assert "partial_" in plan
    assert "l_shipdate" in plan  # shipdate filter present


def test_anti_join_is_join_not_subquery_scan(spark, sf_small):
    plan = _plan(spark, sf_small, "j2_anti_join")
    assert "LeftAnti" in plan


def test_simhash_and_ids_plans(spark, sf_small):
    # the two plans rewritten in r2 for scale: zero-exchange simhash,
    # no-single-partition id assignment.  The zero-exchange claim is
    # asserted on an ALREADY-PARALLEL input (the corpus-scale shape);
    # on a single under-parallel test split the amplification guard
    # deliberately adds one fan-out exchange so the 64-vote fold
    # doesn't serialize on one core.
    from latex_ocr_spark.operators.dedup import simhash64

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    plan = simhash64(docs)._jdf.queryExecution().executedPlan().toString()
    # exactly the caller's own repartition exchange; simhash adds none
    assert plan.count("Exchange") == 1 and "roundrobin" in plan.lower()
    assert "SinglePartition" not in _plan(spark, sf_small, "w6_line_numbering")
