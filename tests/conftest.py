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
