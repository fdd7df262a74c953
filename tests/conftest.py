from __future__ import annotations

import os

import pytest

from soweego_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        app_name="soweego-spark-tests",
        shuffle_partitions=8,
    )
    yield s
    s.stop()
