from __future__ import annotations

import pytest

from flink_1_12_0_src_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # local[N] follows SPARK_GRAFT_CPUS (the host); shuffle partitions stay 8,
    # the count the plan goldens were generated under
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT


@pytest.fixture
def sql_cache_size(spark):
    """Callable: entries in the session's SQL cache manager, one per
    persisted plan."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return lambda: field.get(cm).size()


@pytest.fixture
def persistent_rdds(spark):
    """Callable: ids of the RDDs the SparkContext holds persisted
    (checkpoints and materialized caches). Compare id sets, not counts: the
    context cleaner drops unreferenced ones at any time."""
    return lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
