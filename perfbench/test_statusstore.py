"""Unit tests of the status-store reader on tiny plans.

    python3 -m pytest perfbench/test_statusstore.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.statusstore import StatusReader, parse_metric  # noqa: E402


def _identity(batches):
    yield from batches


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = tmp_path_factory.mktemp("spark-local")
    session = (
        SparkSession.builder.master("local[2]")
        .appName("statusstore-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.local.dir", str(local))
        .getOrCreate()
    )
    yield session
    session.stop()


def test_parse_metric_reads_the_total():
    assert parse_metric("921.0 B") == 921
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 KiB "
                        "(512.0 B, 512.0 B, 512.0 B (stage 0.0: task 1))") == 1536
    assert parse_metric("15 ms") == pytest.approx(0.015)
    assert parse_metric("total (min, med, max)\n2.0 s (1.0 s, 1.0 s, 1.0 s)") == 2.0
    assert parse_metric("1,000") == 1000


def test_groupby_counts_one_exchange_and_its_shuffle(spark):
    from pyspark.sql import functions as F

    reader = StatusReader(spark)
    marker = reader.marker()
    rows = (spark.range(0, 1000, 1, 4)
            .groupBy((F.col("id") % 7).alias("k")).count().collect())
    assert len(rows) == 7
    c = reader.since(marker)
    assert c["executions"] == 1
    assert c["exchanges"] == 1
    assert c["broadcasts"] == 0
    assert c["shuffle_write_bytes"] > 0
    assert c["shuffle_read_bytes"] > 0
    assert c["jobs"] >= 1
    assert c["stages"] >= 2          # map side and reduce side
    assert c["tasks"] >= 5           # four map tasks, at least one reduce
    assert c["task_run_s"] >= 0 and c["task_cpu_s"] > 0
    assert c["max_stage_tasks"] == 4
    assert c["task_skew"] >= 1.0
    assert c["py_bytes_in"] == c["py_bytes_out"] == 0


def test_projection_counts_no_exchange(spark):
    from pyspark.sql import functions as F

    reader = StatusReader(spark)
    marker = reader.marker()
    assert len(spark.range(0, 1000, 1, 4).select((F.col("id") * 2).alias("x"))
               .collect()) == 1000
    c = reader.since(marker)
    assert c["executions"] == 1
    assert c["exchanges"] == 0
    assert c["shuffle_write_bytes"] == 0 and c["shuffle_read_bytes"] == 0
    assert c["jobs"] == c["stages"] == 1
    assert c["tasks"] == 4


def test_python_node_bytes_and_an_empty_window(spark):
    reader = StatusReader(spark)
    marker = reader.marker()
    spark.range(0, 1000, 1, 2).mapInArrow(_identity, "id long").collect()
    c = reader.since(marker)
    assert c["py_bytes_in"] > 0 and c["py_bytes_out"] > 0
    assert c["py_run_s"] > 0
    idle = reader.marker()
    assert all(v == 0 for v in reader.since(idle).values())
