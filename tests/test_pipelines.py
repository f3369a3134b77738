"""Golden end-to-end route-pipeline tests on domain-shaped fixtures —
SURVEY §5.2: synthetic payloads → full pipeline → table assertions with
the REST and LLM boundaries stubbed."""
from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mgo_liveagent_data_pipeline_spark.enrich.gateway import StubGateway
from mgo_liveagent_data_pipeline_spark.pipelines import (
    read_table,
    run_agents_pipeline,
    run_convo_pipeline,
    run_logs_pipeline,
    run_message_pipeline,
    run_ticket_pipeline,
)
from mgo_liveagent_data_pipeline_spark.transforms.messages import (
    SPECIAL_USER_ID,
    SYSTEM_USER_ID,
)

def NOW():
    return F.lit(dt.datetime(2024, 2, 1, 12, 0, 0)).cast("timestamp")


@pytest.fixture()
def agents(spark):
    return spark.createDataFrame(
        [
            ("a1", "Alice Agent", "alice@x.ph", None),
            (SPECIAL_USER_ID, "Raw Special Name", "mgo@x.ph", None),
        ],
        "id string, name string, email string, last_pswd_change timestamp",
    )


@pytest.fixture()
def raw_messages(spark):
    rows = [
        # (ticket, owner, ticket_agent, msg id, userid, type, fmt, created, text)
        ("t1", "Owen Owner", "a1", "m1", "u9", "M", "T",
         dt.datetime(2024, 1, 1, 10, 0), "hi I need help Ref: XY12"),
        ("t1", "Owen Owner", "a1", "m2", "a1", "M", "T",
         dt.datetime(2024, 1, 1, 10, 5), "on it"),
        ("t1", "Owen Owner", "a1", "m3", SYSTEM_USER_ID, "M", "H",
         dt.datetime(2024, 1, 1, 10, 6), "<b>auto</b>"),
        ("t2", "Pia Person", SPECIAL_USER_ID, "m4", SPECIAL_USER_ID, "M", "T",
         dt.datetime(2024, 1, 2, 9, 0), "booking confirmed"),
        ("t2", "Pia Person", SPECIAL_USER_ID, "m5", "u7", "M", "T",
         dt.datetime(2024, 1, 2, 9, 30), "thanks"),
    ]
    return spark.createDataFrame(
        rows,
        [
            "ticket_id", "owner_name", "agentid", "message_id", "userid",
            "message_type", "message_format", "message_datecreated", "message",
        ],
    )


def test_message_pipeline_sender_receiver_rules(spark, tmp_path, agents, raw_messages):
    run_message_pipeline(spark, raw_messages, agents, str(tmp_path), now=NOW())
    out = {r["message_id"]: r for r in read_table(spark, str(tmp_path), "messages").collect()}

    # rule 3: agent-sent
    assert out["m2"]["sender_name"] == "Alice Agent"
    assert out["m2"]["sender_type"] == "agent"
    assert out["m2"]["receiver_name"] == "Owen Owner"
    # rule 1: system id
    assert out["m3"]["sender_name"] == "System"
    assert out["m3"]["sender_type"] == "system"
    # rule 2: special id
    assert out["m4"]["sender_name"] == "MechaniGo.ph"
    # rule 4: client-sent, known ticket agent
    assert out["m1"]["sender_name"] == "Owen Owner"
    assert out["m1"]["sender_type"] == "client"
    assert out["m1"]["receiver_name"] == "Alice Agent"
    assert out["m1"]["receiver_type"] == "agent"
    # rule 4 + special-id ticket agent override
    assert out["m5"]["receiver_name"] == "MechaniGo.ph"
    # F1 regex
    assert out["m1"]["reference_code"] == "XY12"
    assert out["m2"]["reference_code"] == "No Reference code"
    # F7: Manila = UTC+8
    assert out["m1"]["message_datecreated"] == dt.datetime(2024, 1, 1, 18, 0)


def test_ticket_pipeline_upsert_and_hygiene(spark, tmp_path, agents):
    base = str(tmp_path)
    t1 = spark.createDataFrame(
        [("t1", "open", ["vip", "car"], dt.datetime(2024, 1, 1, 0, 0))],
        ["id", "status", "tags", "date_created"],
    )
    run_ticket_pipeline(spark, t1, base, now=NOW())
    got = read_table(spark, base, "tickets").collect()[0]
    assert got["tags"] == "vip,car"
    assert got["date_created"] == dt.datetime(2024, 1, 1, 8, 0)  # Manila
    assert got["datetime_extracted"] == dt.datetime(2024, 2, 1, 20, 0)

    # re-extraction updates in place (MERGE semantics)
    t1b = spark.createDataFrame(
        [("t1", "closed", ["vip"], dt.datetime(2024, 1, 1, 0, 0))],
        ["id", "status", "tags", "date_created"],
    )
    run_ticket_pipeline(spark, t1b, base, now=NOW())
    rows = read_table(spark, base, "tickets").collect()
    assert len(rows) == 1
    assert rows[0]["status"] == "closed"


def test_agents_pipeline_truncates(spark, tmp_path, agents):
    base = str(tmp_path)
    run_agents_pipeline(spark, agents, base)
    run_agents_pipeline(spark, agents, base)
    assert read_table(spark, base, "agents").count() == agents.count()


def test_convo_pipeline_history_and_upsert(spark, tmp_path, agents, raw_messages):
    base = str(tmp_path)
    run_message_pipeline(spark, raw_messages, agents, base, now=NOW())
    messages = read_table(spark, base, "messages")
    run_convo_pipeline(spark, messages, StubGateway(), base)
    cur = read_table(spark, base, "convo_analysis")
    assert cur.count() == 2  # t1, t2 (HTML-only rows filtered by P4)
    row = {r["ticket_id"]: r for r in cur.collect()}["t1"]
    assert row["model"] == "stub-v1"
    assert row["schedule_ts"] is not None
    # second run: history accumulates, current stays deduped
    run_convo_pipeline(spark, messages, StubGateway(), base)
    assert read_table(spark, base, "convo_analysis").count() == 2
    assert read_table(spark, base, "convo_analysis_history").count() == 4


def test_elt_parity_ledger_invariants(spark):
    """The composed reference-lifecycle chain (plans/parity.py): stage
    hand-offs are exact (each stage's rows_in is the PREVIOUS stage's
    written-and-read-back output), the K4 MERGE collapsed the wave
    overlap, the geocode/viable stage is row-preserving, and the logs
    route emits exactly one metrics row — the invariants the reference's
    Extractor lifecycle promises (core/extract/Extractor.py:56-327)."""
    from pyspark.sql import functions as F

    from mgo_liveagent_data_pipeline_spark.plans.parity import (
        q_elt_parity_pipeline,
    )

    sf_dir = "/root/testdata/sf0.001"
    rows = {
        r["stage_no"]: r
        for r in q_elt_parity_pipeline(spark, sf_dir).collect()
    }
    assert [rows[i]["stage"] for i in range(1, 9)] == [
        "tickets_upsert", "recent_window", "messages_enrich",
        "users_upsert", "convo_analysis", "geocode_viable",
        "history_merge", "logs_metrics",
    ]
    # read-back hand-offs: stage N+1 consumed exactly what stage N wrote
    assert rows[2]["rows_in"] == rows[1]["rows_out"]
    assert rows[3]["rows_in"] == rows[2]["rows_out"]
    assert rows[4]["rows_in"] == rows[3]["rows_out"]
    assert rows[6]["rows_in"] == rows[5]["rows_out"]
    assert rows[7]["rows_in"] == rows[6]["rows_out"] == rows[7]["rows_out"]
    assert rows[8]["rows_out"] == 1
    # K4 MERGE semantics against the source of truth: two waves in,
    # |%2 ∪ %3| distinct ticket keys out (the %6 overlap merged in place)
    keys = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    n_w1 = keys.where(F.col("o_orderkey") % 2 == 0).count()
    n_w2 = keys.where(F.col("o_orderkey") % 3 == 0).count()
    n_union = keys.where(
        (F.col("o_orderkey") % 2 == 0) | (F.col("o_orderkey") % 3 == 0)
    ).count()
    assert rows[1]["rows_in"] == n_w1 + n_w2
    assert rows[1]["rows_out"] == n_union
    assert rows[8]["rows_in"] == n_w2
    # the window bounds the run; conversations group the window's tickets
    assert 0 < rows[2]["rows_out"] < rows[1]["rows_out"]
    assert 0 < rows[5]["rows_out"] <= rows[2]["rows_out"]
    # every stage's content checksum is populated (values, not just counts)
    assert all(rows[i]["checksum"] > 0 for i in range(1, 9))


def test_parity_inhand_equals_readback(spark, monkeypatch):
    """Round-12 in-hand replacements inside the parity chain (the
    recent window derived from the MERGE algebra instead of the tickets
    read-back, the messages cache written-from instead of re-read, the
    stage-8 token totals taken from anag instead of the current-state
    read-back) are VALUE-IDENTICAL to read-backs of the written tables
    — the hand-off certification the removed physical read-backs used
    to provide per run, pinned once here."""
    import mgo_liveagent_data_pipeline_spark.plans.parity as parity
    from mgo_liveagent_data_pipeline_spark.pipelines import convo_messages
    from mgo_liveagent_data_pipeline_spark.scratch import scratch_dir
    from mgo_liveagent_data_pipeline_spark.sinks.writers import table_path

    captured: dict[str, str] = {}

    def capturing(prefix: str, dir=None) -> str:
        d = scratch_dir(prefix, dir)
        captured["base"] = d
        return d

    monkeypatch.setattr(parity, "scratch_dir", capturing)
    rows = {
        r["stage_no"]: r
        for r in parity.q_elt_parity_pipeline(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    base = captured["base"]

    def ck_agg(df, ck):
        got = df.agg(
            F.count(F.lit(1)).cast("long"),
            F.sum(parity._hex8_md5(ck)).cast("long"),
        ).first()
        return got[0], got[1]

    # stage 2: the ledger's recent-window stats (computed from the
    # in-hand merged ticket state) equal the same stats recomputed from
    # the READ-BACK written tickets table
    tickets = spark.read.parquet(table_path(base, "tickets"))
    win = tickets.where(
        F.col("date_created") >= F.lit(parity._CUTOFF).cast("timestamp")
    )
    got2 = ck_agg(
        win,
        F.concat_ws(
            "|", "id", "agentid", F.coalesce(F.col("owner_name"), F.lit("-"))
        ),
    )
    assert got2 == (rows[2]["rows_out"], rows[2]["checksum"])
    # stage 3: the ledger's messages stats are those of the READ-BACK
    # messages table
    msgs = spark.read.parquet(table_path(base, "messages"))
    got3 = ck_agg(
        msgs,
        F.concat_ws(
            "|",
            "message_id", "userid", "sender_name", "sender_type",
            "receiver_name", "receiver_type", "agent_name", "reference_code",
            parity._fmt(F.col("message_datecreated")),
        ),
    )
    assert got3 == (rows[3]["rows_out"], rows[3]["checksum"])
    # the in-hand messages cache the table was written from feeds the
    # users dim and the convo analysis: both match the read-back table
    users = spark.read.parquet(table_path(base, "users")).collect()
    users_rb = msgs.groupBy(F.col("userid").alias("id")).agg(
        F.min("sender_name").alias("name")
    )
    assert sorted(map(tuple, users)) == sorted(map(tuple, users_rb.collect()))
    assert rows[5]["rows_in"] == convo_messages(msgs).count()
    # stage 7/8: the logs row's token total (taken from in-hand anag) and
    # the ledger's current-state count equal the READ-BACK table's
    cur = spark.read.parquet(table_path(base, "convo_analysis"))
    logs = spark.read.parquet(table_path(base, "logs")).collect()
    assert len(logs) == 1
    assert (
        logs[0]["total_tokens"]
        == cur.agg(F.coalesce(F.sum("tokens"), F.lit(0))).first()[0]
    )
    assert rows[7]["rows_out"] == cur.count()


def test_parity_overlap_equals_sequential_and_raises(spark, tmp_path):
    """`pipelines.overlap`, shared by the routes and the parity chain
    (thread-pool submission of INDEPENDENT writer steps):
    (a) overlapped history-append + current-merge of one round produce
    byte-identical table states to the sequential schedule — the
    independence claim its docstring makes; (b) an exception in either thunk propagates to the
    caller (a silently swallowed writer failure would corrupt the
    lifecycle mid-chain)."""
    from mgo_liveagent_data_pipeline_spark.pipelines import overlap
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        history_append,
        table_path,
        upsert,
    )

    src = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["ticket_id", "v"]
    )
    seq, par = str(tmp_path / "seq"), str(tmp_path / "par")
    for _ in range(2):
        history_append(spark, src, seq, "t")
        upsert(spark, src, seq, "t", "ticket_id")
    for _ in range(2):
        overlap(
            lambda: history_append(spark, src, par, "t"),
            lambda: upsert(spark, src, par, "t", "ticket_id"),
        )
    for name in ("t", "t_history"):
        a = sorted(
            map(tuple, spark.read.parquet(table_path(seq, name)).collect())
        )
        b = sorted(
            map(tuple, spark.read.parquet(table_path(par, name)).collect())
        )
        assert a == b, name
    assert spark.read.parquet(table_path(par, "t_history")).count() == 6

    def _boom():
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError, match="writer died"):
        overlap(lambda: None, _boom)

    # multi-failure: every step runs, the FIRST (submission-order)
    # exception propagates, the rest are logged — not silently discarded
    def _boom2():
        raise ValueError("second writer died")

    with pytest.raises(RuntimeError, match="writer died"):
        overlap(_boom, _boom2)


def test_overlap_jobs_keep_the_callers_job_group(spark):
    """Jobs `overlap` submits from its worker threads carry the caller's
    job group, so a per-group job count sees every overlapped writer. A
    plain worker thread starts without the caller's local properties and
    its jobs land in no group."""
    from mgo_liveagent_data_pipeline_spark.pipelines import overlap

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = spark.range(100)

    def jobs_in(group, run):
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(group))

    per_count = len(jobs_in("overlap_probe_one", df.count))
    ungrouped = set(tracker.getJobIdsForGroup(None))

    def chain():
        df.count()
        overlap(df.count, df.count)
        df.count()

    assert len(jobs_in("overlap_probe_chain", chain)) == 4 * per_count
    # no job of the chain is ungrouped. Compared as "no new ungrouped id":
    # past spark.ui.retainedJobs the tracker drops its oldest 10% of jobs,
    # so an old ungrouped id may vanish while the chain runs
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_logs_pipeline_metrics_row(spark, tmp_path, agents, raw_messages):
    base = str(tmp_path)
    run_message_pipeline(spark, raw_messages, agents, base, now=NOW())
    messages = read_table(spark, base, "messages")
    run_convo_pipeline(spark, messages, StubGateway(), base)
    analyzed = read_table(spark, base, "convo_analysis")
    run_keys = messages.select("ticket_id").distinct()
    existing = spark.createDataFrame([("t1",)], ["ticket_id"])
    run_logs_pipeline(spark, run_keys, existing, "ticket_id", analyzed, base)
    log = read_table(spark, base, "logs").collect()[0]
    assert log["no_new"] == 1 and log["no_existing"] == 1 and log["no_total"] == 2
    assert log["total_tokens"] > 0
    assert log["model"] == "stub-v1"


def _counting_stub(sc):
    """A StubGateway that counts its calls through a Spark accumulator,
    so calls made inside Python workers are summed on the driver. Defined
    locally, so it pickles by value and workers never import this file."""

    class CountingStub(StubGateway):
        def __init__(self, calls):
            self.calls = calls

        def __call__(self, prompt: str):
            self.calls.add(1)
            return super().__call__(prompt)

    return CountingStub(sc.accumulator(0))


def test_llm_called_once_per_conversation(
    spark, tmp_path, agents, raw_messages, monkeypatch
):
    """The convo analysis is one LLM call per eligible conversation per
    run (Extractor.py:254-327), however many sinks read it: the history
    append and the MERGE (whose anti-join reads its source twice once
    the target exists) both consume one materialized analysis. Pinned on
    the route into an empty target, on a second route run into the
    existing target, and on one run of the parity member."""
    import mgo_liveagent_data_pipeline_spark.plans.parity as parity

    base = str(tmp_path)
    run_message_pipeline(spark, raw_messages, agents, base, now=NOW())
    messages = read_table(spark, base, "messages")
    eligible = (
        messages.where(
            (F.col("message_type") == "M") & (F.col("message_format") == "T")
        )
        .select("ticket_id")
        .distinct()
        .count()
    )
    assert eligible == 2
    for run in ("empty target", "existing target"):
        gw = _counting_stub(spark.sparkContext)
        run_convo_pipeline(spark, messages, gw, base)
        assert gw.calls.value == eligible, run
    assert read_table(spark, base, "convo_analysis_history").count() == 2 * eligible

    gateways = []

    def counting_stub():
        gateways.append(_counting_stub(spark.sparkContext))
        return gateways[-1]

    monkeypatch.setattr(parity, "StubGateway", counting_stub)
    rows = {
        r["stage_no"]: r
        for r in parity.q_elt_parity_pipeline(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(gateways) == 1
    assert gateways[0].calls.value == rows[5]["rows_out"] > 0


def test_convo_route_outside_repo_root(tmp_path):
    """The convo route's Python workers import this package even when the
    driver runs from another directory with the package only on its own
    sys.path: the route ships the package to the workers itself."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import datetime as dt, sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from mgo_liveagent_data_pipeline_spark.enrich.gateway import StubGateway
        from mgo_liveagent_data_pipeline_spark.pipelines import read_table, run_convo_pipeline

        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        messages = spark.createDataFrame(
            [("t1", "m1", "M", "T", dt.datetime(2024, 1, 1, 10, 0), "need help")],
            "ticket_id string, message_id string, message_type string,"
            "message_format string, message_datecreated timestamp, message string",
        )
        run_convo_pipeline(spark, messages, StubGateway(), "tables")
        print("rows", read_table(spark, "tables", "convo_analysis").count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 1" in out.stdout


def test_run_keyed_persist_keys_cache_per_run(spark):
    """The parity member's run-keyed persist: a second run's relation is
    never served from the first run's cache, the same run's is, and the
    run key folds out of the physical plan."""
    from mgo_liveagent_data_pipeline_spark.plans.parity import _run_keyed_persist

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    src = spark.range(50).withColumn("v", F.col("id") * 2)
    first = _run_keyed_persist(src, "/runs/a")
    first.count()
    try:
        assert "InMemoryTableScan" in plan(src.where(F.lit("/runs/a").isNotNull()))
        second = src.where(F.lit("/runs/b").isNotNull())
        assert "InMemoryTableScan" not in plan(second)
        assert "Filter" not in plan(second)
        assert second.count() == 50
    finally:
        first.unpersist()
