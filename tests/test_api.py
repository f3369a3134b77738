"""Dispatcher + RuntimeTracker parity tests (reference api/app.py routes)."""
from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mgo_liveagent_data_pipeline_spark.api import Engine, build_fastapi_app


def _now():
    return F.lit(dt.datetime(2024, 2, 1, 12, 0, 0)).cast("timestamp")


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path))


def _seed(spark, engine, now):
    agents = spark.createDataFrame(
        [("a1", "Alice", "a@x.ph", None)],
        "id string, name string, email string, last_pswd_change timestamp",
    )
    tickets = spark.createDataFrame(
        [("t1", "open", dt.datetime(2024, 1, 1))],
        "id string, status string, date_created timestamp",
    )
    messages = spark.createDataFrame(
        [
            ("t1", "Owen", "a1", "m1", "u9", "M", "T",
             dt.datetime(2024, 1, 1, 10, 0), "need help"),
        ],
        "ticket_id string, owner_name string, agentid string, message_id string,"
        "userid string, message_type string, message_format string,"
        "message_datecreated timestamp, message string",
    )
    engine.dispatch("extract/process-agents", raw_agents=agents)
    engine.dispatch(
        "extract/process-tickets-and-messages",
        raw_tickets=tickets,
        raw_messages=messages,
        now=now,
    )


def test_scheduler_order_end_to_end(spark, engine):
    _seed(spark, engine, _now())
    engine.dispatch("extract/process-convo")
    msgs = engine.dispatch("fetch", table="messages")
    run_keys = msgs.select("ticket_id").distinct()
    existing = spark.createDataFrame([], "ticket_id string")
    engine.dispatch("process-logs", run_keys=run_keys, existing_keys=existing)

    convo = engine.dispatch("fetch", table="convo_analysis").collect()
    assert len(convo) == 1 and convo[0]["model"] == "stub-v1"
    logs = engine.dispatch("fetch", table="logs").collect()
    assert logs[0]["no_new"] == 1

    summary = engine.tracker.summary()
    assert summary["extract/process-convo"]["n"] == 1
    assert engine.tracker.health()["status"] == "ok"
    assert all(r["wall_sec"] is not None for r in engine.tracker.logs())


def test_logs_route_clock_matches_tickets_route(spark, engine):
    """On the default clock, the logs route's extraction_date is on the
    same Manila wall clock as the tickets route's datetime_extracted: a
    run stamps both within seconds of each other, not 8 h apart."""
    _seed(spark, engine, None)
    engine.dispatch("extract/process-convo")
    run_keys = engine.dispatch("fetch", table="tickets").select(
        F.col("id").alias("ticket_id")
    )
    existing = spark.createDataFrame([], "ticket_id string")
    engine.dispatch("process-logs", run_keys=run_keys, existing_keys=existing)

    ticket = engine.dispatch("fetch", table="tickets").collect()[0]
    log = engine.dispatch("fetch", table="logs").collect()[0]
    gap = log["extraction_date"] - ticket["datetime_extracted"]
    assert dt.timedelta(0) <= gap < dt.timedelta(minutes=10)


def test_unknown_route_and_table_guard(spark, engine):
    with pytest.raises(KeyError):
        engine.dispatch("no/such/route")
    with pytest.raises(ValueError):
        engine.dispatch("fetch", table="users; DROP TABLE")
    assert engine.tracker.health()["status"] == "degraded"
    assert engine.tracker.summary()["fetch"]["failed"] == 1


def test_tags_route_nan_fill_truncate(spark, engine):
    tags = spark.createDataFrame(
        [("g1", None, None), ("g2", "urgent", "red")],
        "id string, name string, color string",
    )
    engine.dispatch("extract/process-tags", raw_tags=tags)
    engine.dispatch("extract/process-tags", raw_tags=tags)  # truncate, not append
    rows = {r["id"]: r for r in engine.dispatch("fetch", table="tags").collect()}
    assert len(rows) == 2
    assert rows["g1"]["name"] == ""  # NaN-filled
    assert rows["g2"]["color"] == "red"


def test_fastapi_adapter_serves_tracker_routes(engine):
    """The HTTP adapter exposes the tracker's /health, /logs and /summary,
    and says so plainly when FastAPI is not installed."""
    try:
        import fastapi  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="fastapi is not installed"):
            build_fastapi_app(engine)
        return
    paths = {r.path for r in build_fastapi_app(engine).routes}
    assert {"/health", "/logs", "/summary"} <= paths
