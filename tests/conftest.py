import os
import sys

# the checkout this file belongs to, wherever it lives: a test run from
# another copy must not import that copy's package
_TESTS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_TESTS))
sys.path.insert(0, _TESTS)

import pytest


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    from latex_ocr_spark.session import get_spark

    session = get_spark("latex_ocr_spark-tests", cores=4, shuffle_partitions=8)
    yield session


@pytest.fixture(scope="session")
def sf_small():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_mid():
    return "/root/testdata/sf0.01"


@pytest.fixture
def hinted_broadcasts(spark):
    """``count(run) -> (run(), n)``: ``n`` is the number of
    BroadcastExchange nodes in the SQL executions ``run`` starts, read
    from the status store.  Spark's size-based broadcast is off for the
    test, so every broadcast counted comes from an explicit hint."""
    from perfbench.statusstore import StatusReader

    reader = StatusReader(spark)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")

    def count(run):
        mark = reader.marker()
        out = run()
        return out, reader.since(mark)["broadcasts"]

    yield count
    spark.conf.set(key, prev)
