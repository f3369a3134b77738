from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mgo_liveagent_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        # a bounded heap: under the session default (48g) the JVM grows
        # past a 16 GB host's memory before collecting and is OOM-killed
        # mid-suite; at 6g the whole suite peaks near 7 GB RSS
        extra_conf={"spark.sql.ansi.enabled": "true", "spark.driver.memory": "6g"},
    )
    yield s
    s.stop()
