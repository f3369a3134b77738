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


def _frames(spark, run):
    """Route inputs for a full run and an incremental run that updates
    ticket t1 and adds ticket t2."""
    agents = spark.createDataFrame(
        [("a1", "Alice", "a@x.ph", None)],
        "id string, name string, email string, last_pswd_change timestamp",
    )
    tickets = {
        "full": [("t1", "open", dt.datetime(2024, 1, 1))],
        "incremental": [
            ("t1", "closed", dt.datetime(2024, 1, 1)),
            ("t2", "open", dt.datetime(2024, 1, 2)),
        ],
    }[run]
    messages = {
        "full": [
            ("t1", "Owen", "a1", "m1", "u9", "M", "T",
             dt.datetime(2024, 1, 1, 10, 0), "need help"),
        ],
        "incremental": [
            ("t1", "Owen", "a1", "m2", "a1", "M", "T",
             dt.datetime(2024, 1, 1, 11, 0), "on my way"),
            ("t2", "Pia", "a1", "m3", "u7", "M", "T",
             dt.datetime(2024, 1, 2, 9, 0), "car won't start"),
        ],
    }[run]
    return (
        agents,
        spark.createDataFrame(
            tickets, "id string, status string, date_created timestamp"
        ),
        spark.createDataFrame(
            messages,
            "ticket_id string, owner_name string, agentid string,"
            "message_id string, userid string, message_type string,"
            "message_format string, message_datecreated timestamp,"
            "message string",
        ),
    )


def _same_rows(a, b):
    return a.schema == b.schema and a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_tickets_messages_route_equals_sequential_schedule(spark, tmp_path):
    """The route overlaps the tickets upsert with the agents read →
    messages enrich → append; over a full and an incremental run the
    tables equal those of the sequential schedule."""
    from mgo_liveagent_data_pipeline_spark.pipelines import (
        read_table,
        run_agents_pipeline,
        run_message_pipeline,
        run_ticket_pipeline,
    )

    engine = Engine(spark, str(tmp_path / "route"))
    seq = str(tmp_path / "seq")
    for run in ("full", "incremental"):
        agents, tickets, messages = _frames(spark, run)
        engine.dispatch("extract/process-agents", raw_agents=agents)
        engine.dispatch(
            "extract/process-tickets-and-messages",
            raw_tickets=tickets, raw_messages=messages, now=_now(),
        )
        run_agents_pipeline(spark, agents, seq)
        run_ticket_pipeline(spark, tickets, seq, now=_now())
        run_message_pipeline(
            spark, messages, read_table(spark, seq, "agents"), seq, now=_now()
        )
    for name in ("tickets", "messages"):
        got = read_table(spark, engine.base_dir, name)
        assert _same_rows(got, read_table(spark, seq, name)), name
    assert read_table(spark, seq, "tickets").count() == 2
    assert read_table(spark, seq, "messages").count() == 3


def test_tickets_messages_route_one_failing_writer(spark, engine):
    """A failing messages step does not stop the tickets upsert: tickets
    reach their post-write state, messages stay as they were, the route
    raises the messages error and the tracker records the failure. A
    failing tickets step likewise leaves the messages append to finish."""
    from mgo_liveagent_data_pipeline_spark.pipelines import read_table

    base = engine.base_dir
    agents, tickets, messages = _frames(spark, "full")
    engine.dispatch("extract/process-agents", raw_agents=agents)
    engine.dispatch(
        "extract/process-tickets-and-messages",
        raw_tickets=tickets, raw_messages=messages, now=_now(),
    )
    before = read_table(spark, base, "messages").collect()

    _, tickets2, messages2 = _frames(spark, "incremental")
    broken = messages2.withColumn(
        "message", F.raise_error(F.lit("messages source died")).cast("string")
    )
    with pytest.raises(Exception, match="messages source died"):
        engine.dispatch(
            "extract/process-tickets-and-messages",
            raw_tickets=tickets2, raw_messages=broken, now=_now(),
        )
    got = {r["id"]: r["status"] for r in read_table(spark, base, "tickets").collect()}
    assert got == {"t1": "closed", "t2": "open"}
    assert sorted(read_table(spark, base, "messages").collect()) == sorted(before)
    last = engine.tracker.logs()[-1]
    assert last["route"] == "extract/process-tickets-and-messages"
    assert last["status"] == "failed"
    assert "messages source died" in last["error"]

    broken = tickets2.withColumn(
        "status", F.raise_error(F.lit("tickets source died")).cast("string")
    )
    with pytest.raises(Exception, match="tickets source died"):
        engine.dispatch(
            "extract/process-tickets-and-messages",
            raw_tickets=broken, raw_messages=messages2, now=_now(),
        )
    after = {r["id"]: r["status"] for r in read_table(spark, base, "tickets").collect()}
    assert after == got
    assert read_table(spark, base, "messages").count() == len(before) + 2
    assert engine.tracker.summary()["extract/process-tickets-and-messages"]["failed"] == 2


def test_lifecycle_tables_read_with_their_stored_schema(spark, engine):
    """After a full and an incremental run of every route, the flat-table
    reader's footer schema equals Spark's inferred schema for each
    lifecycle table."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import read_flat, table_path

    existing = spark.createDataFrame([], "ticket_id string")
    for run in ("full", "incremental"):
        agents, tickets, messages = _frames(spark, run)
        engine.dispatch("extract/process-agents", raw_agents=agents)
        engine.dispatch(
            "extract/process-tags",
            raw_tags=spark.createDataFrame(
                [("g1", "urgent", None)], "id string, name string, color string"
            ),
        )
        engine.dispatch(
            "extract/process-tickets-and-messages",
            raw_tickets=tickets, raw_messages=messages, now=_now(),
        )
        engine.dispatch("extract/process-convo")
        run_keys = tickets.select(F.col("id").alias("ticket_id"))
        engine.dispatch("process-logs", run_keys=run_keys, existing_keys=existing)
        existing = run_keys
    tables = (
        "agents tags tickets messages convo_analysis convo_analysis_history logs"
    ).split()
    for name in tables:
        path = table_path(engine.base_dir, name)
        assert read_flat(spark, path).schema == spark.read.parquet(path).schema, name
    assert engine.dispatch("fetch", table="convo_analysis").count() == 2
    assert engine.tracker.health()["status"] == "ok"
