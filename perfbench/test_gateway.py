"""The benchmark's counting gateway answers exactly like ``StubGateway`` and
counts one call per conversation when the analysis runs once.

    python3 -m pytest perfbench/test_gateway.py -q
"""
from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

from mgo_liveagent_data_pipeline_spark.enrich.convo import analyze_conversations  # noqa: E402
from mgo_liveagent_data_pipeline_spark.enrich.gateway import (  # noqa: E402
    PROMPT_TEMPLATE,
    StubGateway,
)
from mgo_liveagent_data_pipeline_spark.sources.tables import load_table  # noqa: E402
from perfbench import gen  # noqa: E402
from perfbench.gateway import CountingGateway  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from mgo_liveagent_data_pipeline_spark.session import get_spark

    s = get_spark("perfbench-gateway-test", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_answers_like_stub_and_counts(spark):
    gw = CountingGateway(spark.sparkContext)
    prompt = PROMPT_TEMPLATE.format(conversation="hi#1 | brake check please#2")
    assert gw(prompt) == StubGateway()(prompt)
    assert gw.snapshot()["calls"] == 1
    assert gw.snapshot()["tokens"] == len(prompt) // 4
    assert gw.snapshot()["failed"] == 0


def test_one_call_per_group_at_sf0001(spark, tmp_path):
    gen.write_tables(str(tmp_path), 0.001, seed=5)
    events = load_table(spark, str(tmp_path), "events")
    gw = CountingGateway(spark.sparkContext)
    rows = analyze_conversations(events, gw).collect()  # the one action
    groups = events.select("user_id").distinct().count()
    assert gw.calls.value == groups == len(rows)
    assert gw.failed.value == 0
    stub = analyze_conversations(events, StubGateway()).collect()
    key = "user_id"
    assert sorted(rows, key=lambda r: r[key]) == sorted(stub, key=lambda r: r[key])
