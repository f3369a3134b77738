"""U1 enrichment stage + streaming window tests."""
from __future__ import annotations

import datetime as dt

from mgo_liveagent_data_pipeline_spark.enrich.convo import analyze_conversations
from mgo_liveagent_data_pipeline_spark.enrich.gateway import (
    EXPECTED_FIELDS,
    FailingGateway,
    StubGateway,
)
from mgo_liveagent_data_pipeline_spark.streaming.windows import session_windows

EVENTS = [
    (100, dt.datetime(2024, 1, 1, 10, 0), 1, "view"),
    (101, dt.datetime(2024, 1, 1, 10, 5), 1, "click"),
    (102, dt.datetime(2024, 1, 1, 12, 0), 1, "purchase"),  # >30min gap → new session
    (103, dt.datetime(2024, 1, 1, 9, 0), 2, "signup"),
]


def events_df(spark):
    return spark.createDataFrame(
        EVENTS, ["event_id", "ts", "user_id", "event_type"]
    )


def test_u1_stub_deterministic_and_whitelisted(spark):
    df = events_df(spark)
    out1 = analyze_conversations(df, StubGateway()).collect()
    out2 = analyze_conversations(df.repartition(4), StubGateway()).collect()
    m1 = {r["user_id"]: r.asDict() for r in out1}
    m2 = {r["user_id"]: r.asDict() for r in out2}
    assert m1 == m2  # parallelism-invariant
    r = m1[1]
    # conversation assembled in (ts, event_id) order
    assert r["summary"].startswith("view#100 | click#101 | purchase#102"[:40])
    assert "debug" not in r  # whitelist dropped the extra LLM field
    assert set(EXPECTED_FIELDS) <= set(r)
    assert 1 <= r["intent_rating"] <= 5
    assert r["model"] == "stub-v1"
    assert r["tokens"] > 0
    assert r["date_extracted"] == dt.datetime(2024, 1, 1, 12, 0)


def test_u1_failing_gateway_emits_fallback_row(spark):
    out = analyze_conversations(events_df(spark), FailingGateway()).collect()
    assert len(out) == 2
    for r in out:
        assert r["summary"] == "ANALYSIS_FAILED"
        assert r["service_category"] is None
        assert r["tokens"] == 0
        assert r["model"] == "failing"


def test_u1_fallback_gateway_serves_from_secondary(spark):
    """A provider outage on the primary model must fall through to the
    secondary, not to the ANALYSIS_FAILED row (LLMGateway.py:39-42)."""
    from mgo_liveagent_data_pipeline_spark.enrich.gateway import (
        FallbackGateway,
    )

    gw = FallbackGateway(FailingGateway(), StubGateway())
    out = analyze_conversations(events_df(spark), gw).collect()
    assert len(out) == 2
    for r in out:
        assert r["summary"] != "ANALYSIS_FAILED"
        assert r["model"] == "stub-v1"  # the served model is recorded
        assert r["tokens"] > 0
    # both links down → the fallback row, attributed to the last link
    gw2 = FallbackGateway(FailingGateway(), FailingGateway())
    out2 = analyze_conversations(events_df(spark), gw2).collect()
    assert all(r["summary"] == "ANALYSIS_FAILED" for r in out2)
    assert all(r["model"] == "failing" for r in out2)


def test_u1_rating_coercion_edges(spark):
    """Per-field coercion contract: "5"/5.0 coerce, 5.5/"abc"/NaN/2**70
    fail the whole record into a fallback row."""
    import json as _json

    cases = {
        1: 4,          # already-typed int (fast path)
        2: "5",        # integer string → 5
        3: 3.0,        # integral float → 3
        4: 5.5,        # non-integral → fallback
        5: "abc",      # junk string → fallback
        6: float("nan"),  # NaN → fallback
        7: 2**70,      # outside int64 → fallback
    }

    class EdgeGateway:
        model = "edge"

        def __call__(self, prompt):
            # the conversation text is "<uid>#<id>" — recover the uid
            uid = int(prompt.rsplit(": ", 1)[-1].split("#")[0])
            payload = {"summary": f"u{uid}", "intent_rating": cases[uid]}
            return _json.dumps(payload), 10, self.model

    rows = [(i, dt.datetime(2024, 1, 1), i, str(i)) for i in cases]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = {
        r["user_id"]: r
        for r in analyze_conversations(df, EdgeGateway()).collect()
    }
    assert out[1]["intent_rating"] == 4
    assert out[2]["intent_rating"] == 5
    assert out[3]["intent_rating"] == 3
    for uid in (4, 5, 6, 7):
        assert out[uid]["summary"] == "ANALYSIS_FAILED", uid
        assert out[uid]["intent_rating"] is None
        assert out[uid]["tokens"] == 0
    for uid in (1, 2, 3):
        assert out[uid]["summary"] == f"u{uid}"
        assert out[uid]["tokens"] == 10


def test_u1_non_string_field_or_token_count_is_a_fallback_row(spark):
    """A non-string value in a string field ("car": 2019, a list
    summary) or a non-integer token count fails its record into the
    fallback row instead of killing the task, and the good record is
    still analysed."""
    import json as _json

    cases = {
        1: ({"summary": "ok", "car": "sedan"}, 7),
        2: ({"summary": "ok", "car": 2019}, 7),
        3: ({"summary": ["a", "b"]}, 7),
        4: ({"summary": "ok"}, "n/a"),
    }

    class OddGateway:
        model = "odd"

        def __call__(self, prompt):
            uid = int(prompt.rsplit(": ", 1)[-1].split("#")[0])
            payload, tokens = cases[uid]
            return _json.dumps(payload), tokens, self.model

    rows = [(i, dt.datetime(2024, 1, 1), i, str(i)) for i in cases]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = {
        r["user_id"]: r
        for r in analyze_conversations(df, OddGateway()).collect()
    }
    assert (out[1]["summary"], out[1]["car"], out[1]["tokens"]) == ("ok", "sedan", 7)
    for uid in (2, 3, 4):
        assert out[uid]["summary"] == "ANALYSIS_FAILED", uid
        assert (out[uid]["car"], out[uid]["tokens"]) == (None, 0)


def test_session_windows_gap_split(spark):
    out = session_windows(events_df(spark), "ts", "user_id", "30 minutes")
    rows = sorted(
        out.collect(), key=lambda r: (r["user_id"], r["session_start"])
    )
    assert [(r["user_id"], r["n_events"]) for r in rows] == [(1, 2), (1, 1), (2, 1)]
    first = rows[0]
    assert first["session_start"] == dt.datetime(2024, 1, 1, 10, 0)
    # window ends gap after the last event of the session
    assert first["session_end"] == dt.datetime(2024, 1, 1, 10, 35)


def test_append_mode_withholds_open_windows(spark):
    """Append mode emits a window exactly once, when the watermark passes
    its end — the final (still-open) window must be withheld relative to
    complete mode."""
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_append_6h,
        stream_tumbling_6h,
    )

    sf = "/root/testdata/sf0.001"
    appended = stream_append_6h(spark, sf).collect()
    complete = stream_tumbling_6h(spark, sf).collect()
    assert 0 < len(appended) < len(complete)
    # emitted rows agree with complete mode on shared windows
    by_start = {r["window_start"]: r for r in complete}
    for r in appended:
        c = by_start[r["window_start"]]
        assert (r["n_events"], r["total_value"]) == (
            c["n_events"],
            c["total_value"],
        )


def test_stream_dedup_collapses_redelivery(spark):
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_dedup_6h,
        stream_tumbling_6h,
    )

    sf = "/root/testdata/sf0.001"
    deduped = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in stream_dedup_6h(spark, sf).collect()
    }
    single = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in stream_tumbling_6h(spark, sf).collect()
    }
    # every event was fed twice; dedup state must collapse it exactly
    assert deduped == single


def test_u1_worker_imports_neither_pandas_nor_operators():
    """A U1 Python worker imports ``enrich.convo`` to unpickle its batch
    function. That import, checked here in a fresh interpreter without
    Spark, loads neither pandas nor any operator module."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        "import mgo_liveagent_data_pipeline_spark.enrich.convo\n"
        "print(sorted(m for m in sys.modules if m == 'pandas'"
        " or m.startswith('mgo_liveagent_data_pipeline_spark.operators')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=repo,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip() == "[]"
