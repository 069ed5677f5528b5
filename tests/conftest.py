from __future__ import annotations

import pytest

from datatest_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="datatest_spark-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": str(8 * 1024 * 1024),
            # with the session default (16g) G1 can grow the heap to
            # ~14 GB, and on a 15 GB host the kernel kills the JVM and
            # every later test fails
            "spark.driver.memory": "8g",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
