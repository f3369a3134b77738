"""Session defaults that depend on the host."""
from __future__ import annotations

from mgo_liveagent_data_pipeline_spark.session import driver_memory

GB = 2**30


def test_driver_memory_is_three_eighths_of_the_host_capped_at_48g():
    assert driver_memory(16 * GB) == "6144m"
    assert driver_memory(int(15.7 * GB)) == "6028m"
    assert driver_memory(128 * GB) == "49152m"  # 48g, the old fixed default
    assert driver_memory(512 * GB) == "49152m"
    assert driver_memory(2 * GB) == "1024m"  # the 1g floor
