"""Reference-lifecycle parity chain — the engine's namesake route
composed END-TO-END with a per-stage ledger and one DuckDB twin.

The reference's flagship scheduled run is
``POST /process-tickets-and-messages`` followed by the convo-analysis and
logs routes (api/routes/tickets.py:15-41): tickets fetch → transform →
staged-MERGE upsert → recent-window read-back of the just-written table →
per-ticket message fetch carrying the ticket's (agentid, owner_name) →
sender/receiver enrichment → messages append + users upsert → LLM
conversation analysis → geocode + serviceability tag → history append +
current-state MERGE → run-metrics log row
(core/extract/Extractor.py:56-327, core/extract/ExtractionLogger.py:95-176).

Every stage here is an already-oracle-checked member operator; what this
module adds is the COMPOSITION — round 6 proved that's where bugs live
(schema drift, double materialization, stale read-backs between stages).
Each stage writes its real table through the sinks and the NEXT stage
reads that table back, so the ledger certifies the writes, the reads, and
the hand-offs, exactly like the curation chains did for the extension
side (plans/pipeline.py:q_curation_pipeline).

Ledger row per stage: (stage_no, stage, rows_in, rows_out, checksum)
where checksum is an order-independent content sum — per output row the
first-8-hex of md5(canonical string) as a bigint, summed — so the twin
hash-checks VALUES (sender resolution, reference codes, stub-LLM fields,
geocode matches), not just counts.

Determinism: the two extraction clocks are fixed literals (the
``now``-injection contract of transforms/tickets.py:add_extraction_
timestamp), the LLM gateway is the Failing→Stub fallback chain whose
output is a pure function of md5(prompt) (enrich/gateway.py), and the
geocode/viable scores are md5/lexicographic-deterministic — so one DuckDB
statement reproduces all eight stages bit-for-bit.

At 100 TB: the recent-window read-back bounds everything downstream (the
reference's 6-hour scheduler window); the agents/gazetteer/serviceable
dims are broadcast; messages join the window on the numeric order key;
the only wide shuffles are the per-ticket conversation groupBy and the
MERGE's key anti-join. The ledger itself is sixteen 1-row aggregates.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..enrich.gateway import FailingGateway, FallbackGateway, StubGateway
from ..pipelines import overlap
from ..scratch import scratch_dir
from ..sources.tables import load_table, local_table
from .enrichment import _GRAMS3, _JAC3, _hexn
from .pipeline import _ledger

# fixed extraction clocks (UTC instants; +8h Manila after normalization)
_NOW1 = "2024-02-01 12:00:00"
_NOW2 = "2024-02-02 12:00:00"
# P3 recent window on the Manila-normalized date_created
_CUTOFF = "1997-06-01 08:00:00"
_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"
# serviceable-municipality stand-in for the reference's CSV
# (utils/geocode_utils.py:23)
_SERVICEABLE = ("manila", "quezon")
_CITIES = ("manila", "cebu", "davao")  # gazetteer extras (no 'quezon')


def _hex8_md5(col: Column) -> Column:
    """First 8 hex chars of md5 as a bigint — the engine's standard
    cross-engine hash (same trick as operators/textops.py bucket)."""
    return F.conv(F.md5(col).substr(1, 8), 16, 10).cast("long")


def _stats(df: DataFrame, canon: Column) -> DataFrame:
    """1-row (n, ck): row count + order-independent content checksum."""
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum(_hex8_md5(canon)), F.lit(0)).cast("long").alias("ck"),
    )


def _count(df: DataFrame) -> DataFrame:
    return df.agg(F.count(F.lit(1)).cast("long").alias("n"))


def _fmt(c: Column) -> Column:
    return F.date_format(c, _FMT_SPARK)


def _run_keyed_persist(df: DataFrame, run_tag: str) -> "DataFrame":
    """Persist with a run-unique, optimizer-folded predicate so the
    CacheManager can NOT dedupe this relation against a previous
    invocation's still-registered cache: every bench pass must re-pay
    the member's full compute (no result reuse across invocations) —
    the same no-reuse property the round-11 shape got for free from
    persisting read-backs of per-run scratch paths. The predicate
    (literal run_tag IS NOT NULL; an equality of two equal literals logs
    a trivially-true WARN) is constant-folded out of the physical plan,
    so runtime cost and schema are unchanged; only the analyzed-plan
    cache key differs per run."""
    from ..operators.dedup import _scoped_persist

    return _scoped_persist(df.where(F.lit(run_tag).isNotNull()))


def q_elt_parity_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed reference lifecycle over driver tables. Stage map
    (reference citation → engine operator):

      1. ``tickets_upsert``  two extraction waves (full run, then a
         changed-rows run) → process_tickets → K4 staged MERGE
         (Extractor.py:56-100 → transforms/tickets.py + sinks/writers.py)
      2. ``recent_window``   P3 recent-window filter over the merged
         ticket state (extraction_helpers.py recent_tickets) — derived
         in-hand with the same MERGE algebra the table write applies,
         value-identical to the read-back (pinned by test; the ledger's
         s1 still reads the written table back)
      3. ``messages_enrich`` per-window-ticket messages carrying the
         ticket's (agentid, owner_name) → F1 reference-code regex + F7
         Manila + J1 sender/receiver cascade → K2 append
         (Extractor.py:102-176, TicketMessageProcessor.py:207-292)
      4. ``users_upsert``    user dimension from the message senders
         (the reference's user cache, Ticket.py get_user_cache) → K4
      5. ``convo_analysis``  P4 type/format filter → A5 ordered group
         concat → U1 LLM gateway (Failing→Stub chain) → F11 schedule
         fusion (Extractor.py:254-327, core/LLMGateway.py:39-42) — the
         convo route's own stage, pipelines.analyze_convo
      6. ``geocode_viable``  U2/J5 gazetteer similarity argmax + J6
         fuzzy serviceability tag, score columns dropped (P11 sweep —
         Extractor.py:290-296, core/Geocode.py, utils/geocode_utils.py)
      7. ``history_merge``   K5 history append, then K4 current-state
         MERGE, run twice: history accumulates 2x, current stays deduped
         (extractor_bq_helpers.py:83-108) — the route's writer,
         pipelines.write_convo_analysis
      8. ``logs_metrics``    E1/E2 new-vs-existing key accounting + A1
         token totals → one-row logs append, read back
         (ExtractionLogger.py:95-176) — pipelines.run_logs_pipeline

    Returns the 8-row ledger (stage_no, stage, rows_in, rows_out,
    checksum). Driver-visible via the ``elt_parity`` mode of
    ``k5_history_sink``; the twin is ``_elt_parity_sql``."""
    from ..operators.dedup import _scoped_persist
    from ..operators.joins import fuzzy_threshold_join, similarity_join_argmax
    from ..pipelines import (
        analyze_convo,
        convo_messages,
        run_logs_pipeline,
        write_convo_analysis,
    )
    from ..sinks.writers import append, merge_rows, table_path, upsert
    from ..transforms.messages import SPECIAL_USER_ID, SYSTEM_USER_ID, process_messages
    from ..transforms.tickets import process_tickets

    base = scratch_dir("mgo_elt_parity_")
    now1 = F.lit(_NOW1).cast("timestamp")
    now2 = F.lit(_NOW2).cast("timestamp")

    orders = load_table(spark, sf_dir, "orders")
    # no table-level broadcast hint: both nation uses here flow into
    # UNIONs (the agents dim, the gazetteer), where a buried hint is
    # dropped by the optimizer with a HintErrorLogger WARN and does
    # nothing — the actual joins are explicitly broadcast at their
    # sites (process_messages' dims, the geo/vi attaches)
    nation = load_table(spark, sf_dir, "nation", broadcast_dim=False)

    # ---- raw-extraction synthesis (the REST payloads, deterministically
    # shaped from orders/lineitem so the twin can regenerate them)
    def raw_wave(pred: Column, status: Column) -> DataFrame:
        return orders.where(pred).select(
            F.concat(F.lit("t"), F.col("o_orderkey").cast("string")).alias("id"),
            status.alias("status"),
            F.when(
                F.col("o_orderkey") % 5 == 0, F.lit(None).cast("array<string>")
            )
            .otherwise(F.array(F.col("o_orderpriority"), F.col("o_orderstatus")))
            .alias("tags"),
            F.col("o_orderdate").alias("date_created"),
            F.when(F.col("o_custkey") % 13 == 0, F.lit(SPECIAL_USER_ID))
            .otherwise(
                F.concat(F.lit("u"), (F.col("o_custkey") % 30).cast("string"))
            )
            .alias("agentid"),
            F.when(F.col("o_custkey") % 17 == 0, F.lit(None).cast("string"))
            .otherwise(
                F.concat(F.lit("owner"), F.col("o_custkey").cast("string"))
            )
            .alias("owner_name"),
            F.col("o_orderkey").alias("k"),
        )

    w1 = raw_wave(F.col("o_orderkey") % 2 == 0, F.col("o_orderstatus"))
    w2 = raw_wave(
        F.col("o_orderkey") % 3 == 0,
        F.concat(F.col("o_orderstatus"), F.lit("*")),
    )

    # stage 1 — two runs through the real route: transform + K4 MERGE
    t1 = process_tickets(w1, now1)
    t2 = process_tickets(w2, now2)

    def _tickets_writes() -> None:
        upsert(spark, t1, base, "tickets", "id")
        upsert(spark, t2, base, "tickets", "id")

    # in-hand merged ticket state — the K4 MERGE algebra the upserts
    # write to disk (the first upsert merges t1 into an absent table,
    # which stores t1 verbatim, the second merges t2 over it), so it is
    # value-identical to a read-back of the written table (deterministic
    # transforms, exact parquet roundtrip; pinned by
    # test_parity_inhand_equals_readback). Deriving the recent window
    # from it lets the stage-3 enrichment compute run WITHOUT waiting
    # for the physical ticket writes — the two upserts overlap the
    # enrichment materialization below (guide §2.6). The ledger's s1
    # still reads back the written table: the certification read.
    tickets_inhand = merge_rows(t1, t2, "id")
    ck1 = F.concat_ws(
        "|",
        "id", "status", "tags", "agentid",
        F.coalesce(F.col("owner_name"), F.lit("-")),
        _fmt(F.col("date_created")),
        _fmt(F.col("datetime_extracted")),
    )
    s_in1 = _count(w1.select("id").unionAll(w2.select("id")))

    # stage 2 — P3 recent window (bounds the whole run)
    win = _run_keyed_persist(
        tickets_inhand.where(
            F.col("date_created") >= F.lit(_CUTOFF).cast("timestamp")
        ).select("k", "id", "agentid", "owner_name"),
        base,
    )
    s2 = _stats(
        win,
        F.concat_ws(
            "|", "id", "agentid", F.coalesce(F.col("owner_name"), F.lit("-"))
        ),
    )

    # stage 3 — per-ticket messages (the fetch carries the ticket's
    # agentid/owner_name, Extractor.py:120-142) → enrich → K2 append.
    # The window side is broadcast: it is bounded by the recency filter
    # exactly as the reference's per-run ticket batch is.
    li = load_table(spark, sf_dir, "lineitem")
    msel = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    raw_msgs = li.join(F.broadcast(win), li["l_orderkey"] == win["k"]).select(
        F.col("id").alias("ticket_id"),
        F.concat(
            F.lit("m"), F.col("l_orderkey").cast("string"),
            F.lit("-"), F.col("l_linenumber").cast("string"),
        ).alias("message_id"),
        F.when(msel % 11 == 0, F.lit(SYSTEM_USER_ID))
        .when(msel % 13 == 0, F.lit(SPECIAL_USER_ID))
        .when(
            msel % 3 == 0,
            F.concat(F.lit("u"), (F.col("l_suppkey") % 25).cast("string")),
        )
        .otherwise(F.concat(F.lit("c"), F.col("l_suppkey").cast("string")))
        .alias("userid"),
        F.col("agentid"),
        F.col("owner_name"),
        F.lit("M").alias("message_type"),
        F.when(F.col("l_linenumber") % 5 == 0, F.lit("H"))
        .otherwise(F.lit("T"))
        .alias("message_format"),
        F.col("l_shipdate").alias("message_datecreated"),
        F.concat(
            F.lit("svc "), F.col("l_returnflag"), F.col("l_linestatus"),
            F.lit(" q"), F.col("l_quantity").cast("int").cast("string"),
            F.when(
                F.col("l_linenumber") % 3 == 0,
                F.concat(F.lit(" Ref: AB"), F.col("l_orderkey").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("message"),
    )
    agents = nation.select(
        F.concat(F.lit("u"), F.col("n_nationkey").cast("string")).alias("id"),
        F.col("n_name").alias("name"),
    ).unionByName(
        local_table(
            spark, [(SPECIAL_USER_ID, "Special Raw")], "id string, name string"
        )
    )
    # The enrichment is computed ONCE into a persisted cache, and the K2
    # messages append writes FROM that cache — overlapped with stage 4/5
    # below, off the critical path (guide §2.6; the round-11 shape wrote
    # the table first and re-scanned it back into the cache, putting the
    # write job AND the read-back fill in sequence in front of stage 5).
    # Downstream stages read the in-hand cache, which is value-identical
    # to a read-back of the written table (the parquet roundtrip of these
    # deterministic columns is exact; pinned by
    # test_parity_inhand_equals_readback against the written files); the
    # ledger's s3 reads the written table back.
    # Persist AND materialize now: four consumers read this relation
    # (messages append, users dim, convo analysis, the stage-5 ledger
    # count), several inside CONCURRENT broadcast-exchange jobs — a lazy
    # persist lets each racing first consumer recompute the scan instead
    # of hitting the cache (guide §5; the round-11 event-log profile
    # measured the same messages subtree in 9 separate jobs of one run).
    msgs = _run_keyed_persist(
        process_messages(raw_msgs, agents, now=now2), base
    )
    overlap(_tickets_writes, msgs.count)
    tickets = spark.read.parquet(table_path(base, "tickets"))
    s1 = _stats(tickets, ck1)

    # stage 4 — user dimension from the senders (deterministic first-pick
    # via min, the A6 pattern) → K4 upsert
    users_src = msgs.groupBy(F.col("userid").alias("id")).agg(
        F.min("sender_name").alias("name")
    )

    # stage 5 — the convo route's analysis stage (materialized once, see
    # pipelines.analyze_convo) over the in-hand messages, with the
    # Failing→Stub gateway chain.
    # The stage-3 messages append and stage-4 users upsert overlap it
    # (guide §2.6): all three read only the materialized msgs cache and
    # write different outputs (messages table, users table, checkpoint
    # storage), so the schedule cannot change any table state — the two
    # writes simply hide under the longer analysis job instead of
    # serializing in front of it. Failure-semantics divergence from the
    # reference's sequential route (messages append, THEN users upsert,
    # THEN analysis): a failing messages write no longer prevents the
    # users write from completing — equivalence holds on the happy path,
    # which is all the ledger/twin observe (see pipelines.overlap).
    gateway = FallbackGateway(FailingGateway(), StubGateway())
    ana, _, _ = overlap(
        lambda: analyze_convo(spark, msgs, gateway),
        lambda: append(msgs, base, "messages"),
        lambda: upsert(spark, users_src, base, "users", "id"),
    )
    messages = spark.read.parquet(table_path(base, "messages"))
    s3 = _stats(
        messages,
        F.concat_ws(
            "|",
            "message_id", "userid", "sender_name", "sender_type",
            "receiver_name", "receiver_type", "agent_name", "reference_code",
            _fmt(F.col("message_datecreated")),
        ),
    )
    users = spark.read.parquet(table_path(base, "users"))
    s4 = _stats(users, F.concat_ws("|", "id", "name"))
    ck5 = F.concat_ws(
        "|",
        "ticket_id", "service_category",
        F.col("intent_rating").cast("string"),
        F.col("engagement_rating").cast("string"),
        F.col("clarity_rating").cast("string"),
        F.col("resolution_rating").cast("string"),
        F.col("sentiment_rating").cast("string"),
        "location", "schedule_date", "schedule_time", "car",
        "inspection", "quotation",
        F.col("tokens").cast("string"),
        "summary",
        _fmt(F.col("date_extracted")),
        _fmt(F.col("schedule_ts")),
    )
    s_in5 = _count(convo_messages(msgs))
    s5 = _stats(ana, ck5)

    # stage 6 — geocode the analysis locations (J5 argmax vs the
    # broadcast gazetteer) + J6 serviceability tag; score columns dropped
    # afterwards (the reference's P11 sweep, Extractor.py:293-296)
    locs = ana.select("location").distinct()
    gaz = nation.select(
        F.lower("n_name").alias("g"), F.lit("nation").alias("geo_level")
    ).unionByName(
        local_table(
            spark,
            [(c, "municity") for c in _CITIES],
            "g string, geo_level string",
        )
    )
    geo = similarity_join_argmax(
        locs, gaz, "location", "g", n=3, threshold=0.3,
        keep_right=["g", "geo_level"],
    ).select("location", F.col("g").alias("matched_address"), "geo_level")
    svc = local_table(spark, [(m,) for m in _SERVICEABLE], "muni string")
    vi = fuzzy_threshold_join(locs, svc, "location", "muni", threshold=40.0)
    # geo and vi are LOCATION-grained (a handful of distinct analysis
    # locations), but they descend from a mapInArrow output whose size
    # Catalyst cannot estimate, so the planner fell back to TWO
    # SortMergeJoins that each shuffled the full analysis relation by
    # location (guide §3.1: broadcast the side you know is small).
    # Explicit broadcasts keep the analysis relation un-shuffled.
    anag = _scoped_persist(
        ana.join(F.broadcast(geo), "location", "left")
        .join(F.broadcast(vi.select("location", "viable")), "location")
    )
    ck6 = F.concat_ws(
        "|",
        "ticket_id",
        F.coalesce(F.col("matched_address"), F.lit("-")),
        F.coalesce(F.col("geo_level"), F.lit("-")),
        "viable",
    )
    s6 = _stats(anag, ck6)

    # stage 7 — K5 history + K4 merge, run twice (the re-scheduled run):
    # history accumulates both batches, current stays deduped. anag is
    # materialized FIRST so the concurrent writers share the cache
    # instead of racing its fill (the same lazy-persist race the
    # analysis checkpoint fix removed).
    anag.count()

    def _convo_rounds() -> None:
        for _ in range(2):
            write_convo_analysis(spark, anag, base)

    # stage 8 — the logs route's stage: wave-2 keys vs wave-1 keys +
    # token totals → one-row logs append. The totals come from the
    # in-hand anag cache, value-identical to the read-back current state
    # (anag is ticket_id-unique, so its K4 MERGE into the fresh table IS
    # anag — pinned by test_parity_inhand_equals_readback), so the logs
    # append overlaps both write rounds (guide §2.6).
    run_keys = w2.select("id")
    overlap(
        _convo_rounds,
        lambda: run_logs_pipeline(
            spark, run_keys, w1.select("id"), "id", anag, base, now=now2
        ),
    )
    # the ledger still READS BACK the written stage-7/8 tables (the
    # certification the member exists for): s7/s8 scan the final table
    # states inside the one ledger-count job
    cur = spark.read.parquet(table_path(base, "convo_analysis"))
    hist = spark.read.parquet(table_path(base, "convo_analysis_history"))
    s7 = _count(cur).crossJoin(
        hist.agg(
            F.coalesce(
                F.sum(_hex8_md5(F.concat_ws("|", "ticket_id", "model", "viable"))),
                F.lit(0),
            )
            .cast("long")
            .alias("ck")
        )
    )
    logs = spark.read.parquet(table_path(base, "logs"))
    s8 = _stats(
        logs,
        F.concat_ws(
            "|",
            _fmt(F.col("extraction_date")),
            F.col("no_new").cast("string"),
            F.col("no_existing").cast("string"),
            F.col("no_total").cast("string"),
            F.col("total_tokens").cast("string"),
            "model",
        ),
    )
    s_in8 = _count(run_keys)

    stages = [
        ("tickets_upsert", s_in1, s1),
        ("recent_window", s1, s2),
        ("messages_enrich", s2, s3),
        ("users_upsert", s3, s4),
        ("convo_analysis", s_in5, s5),
        ("geocode_viable", s5, s6),
        ("history_merge", s6, s7),
        ("logs_metrics", s_in8, s8),
    ]
    return _ledger(stages, rows_out="n", checksum="ck")


def _elt_parity_sql() -> str:
    """DuckDB twin of q_elt_parity_pipeline — all eight stages in ONE
    statement, stage CTEs mirroring the engine's table states."""
    lev = (
        "CASE WHEN greatest(length({a}), length({b})) = 0 THEN 100.0 "
        "ELSE (1.0 - CAST(levenshtein(lower({a}), lower({b})) AS DOUBLE) "
        "/ greatest(length({a}), length({b}))) * 100.0 END"
    )
    jac = _JAC3.format(a="l.lgr", b="g.ggr")
    d = [_hexn("hx", i + 1, 1) for i in range(11)]
    cats = "['repair','maintenance','inspection','quotation','other']"
    locs4 = "['manila','cebu','davao','quezon']"
    h8 = _hexn("h8x", 1, 8)
    cities = " UNION ALL ".join(
        f"SELECT '{c}' AS g, 'municity' AS geo_level" for c in _CITIES
    )
    svc = " UNION ALL ".join(f"SELECT '{m}' AS muni" for m in _SERVICEABLE)
    return f"""
WITH w1 AS (
  SELECT 't' || CAST(o_orderkey AS VARCHAR) AS id,
         o_orderstatus AS status,
         CASE WHEN o_orderkey % 5 = 0 THEN ''
              ELSE o_orderpriority || ',' || o_orderstatus END AS tags,
         o_orderdate + INTERVAL 8 HOUR AS date_created,
         TIMESTAMP '2024-02-01 20:00:00' AS datetime_extracted,
         CASE WHEN o_custkey % 13 = 0 THEN '00054iwg'
              ELSE 'u' || CAST(o_custkey % 30 AS VARCHAR) END AS agentid,
         CASE WHEN o_custkey % 17 = 0 THEN NULL
              ELSE 'owner' || CAST(o_custkey AS VARCHAR) END AS owner_name,
         o_orderkey AS k
  FROM orders WHERE o_orderkey % 2 = 0),
w2 AS (
  SELECT 't' || CAST(o_orderkey AS VARCHAR) AS id,
         o_orderstatus || '*' AS status,
         CASE WHEN o_orderkey % 5 = 0 THEN ''
              ELSE o_orderpriority || ',' || o_orderstatus END AS tags,
         o_orderdate + INTERVAL 8 HOUR AS date_created,
         TIMESTAMP '2024-02-02 20:00:00' AS datetime_extracted,
         CASE WHEN o_custkey % 13 = 0 THEN '00054iwg'
              ELSE 'u' || CAST(o_custkey % 30 AS VARCHAR) END AS agentid,
         CASE WHEN o_custkey % 17 = 0 THEN NULL
              ELSE 'owner' || CAST(o_custkey AS VARCHAR) END AS owner_name,
         o_orderkey AS k
  FROM orders WHERE o_orderkey % 3 = 0),
tickets AS (
  SELECT * FROM w1 WHERE k % 3 <> 0
  UNION ALL SELECT * FROM w2),
win AS (
  SELECT k, id, agentid, owner_name FROM tickets
  WHERE date_created >= TIMESTAMP '{_CUTOFF}'),
msgs_raw AS (
  SELECT w.id AS ticket_id,
         'm' || CAST(l_orderkey AS VARCHAR) || '-' ||
           CAST(l_linenumber AS VARCHAR) AS message_id,
         CASE WHEN (l_orderkey * 10 + l_linenumber) % 11 = 0 THEN 'system00'
              WHEN (l_orderkey * 10 + l_linenumber) % 13 = 0 THEN '00054iwg'
              WHEN (l_orderkey * 10 + l_linenumber) % 3 = 0
                   THEN 'u' || CAST(l_suppkey % 25 AS VARCHAR)
              ELSE 'c' || CAST(l_suppkey AS VARCHAR) END AS userid,
         w.agentid, w.owner_name,
         'M' AS message_type,
         CASE WHEN l_linenumber % 5 = 0 THEN 'H' ELSE 'T' END AS message_format,
         l_shipdate + INTERVAL 8 HOUR AS message_datecreated,
         'svc ' || l_returnflag || l_linestatus || ' q' ||
           CAST(CAST(l_quantity AS INT) AS VARCHAR) ||
           CASE WHEN l_linenumber % 3 = 0
                THEN ' Ref: AB' || CAST(l_orderkey AS VARCHAR)
                ELSE '' END AS message
  FROM lineitem JOIN win w ON l_orderkey = w.k),
agents AS (
  SELECT 'u' || CAST(n_nationkey AS VARCHAR) AS id, n_name AS name
  FROM nation
  UNION ALL SELECT '00054iwg', 'Special Raw'),
mj AS (
  SELECT m.*,
         sa.name AS sa_name, sa.id IS NOT NULL AS sa_hit,
         ta.name AS ta_name, ta.id AS ta_id, ta.id IS NOT NULL AS ta_hit
  FROM msgs_raw m
  LEFT JOIN agents sa ON m.userid = sa.id
  LEFT JOIN agents ta ON m.agentid = ta.id),
mr AS (
  SELECT *,
         coalesce(owner_name, 'Unknown User') AS owner_r,
         CASE WHEN ta_hit AND ta_id = '00054iwg' THEN 'MechaniGo.ph'
              WHEN ta_hit THEN coalesce(ta_name, 'Unknown Agent')
              ELSE 'Unknown Agent' END AS ticket_agent,
         userid = 'system00' AS is_sys,
         userid = '00054iwg' AS is_sp
  FROM mj),
menr AS (
  SELECT ticket_id, message_id, userid, message_type, message_format,
         message_datecreated, message,
         coalesce(nullif(regexp_extract(message, 'Ref:\\s*([A-Z0-9]+)', 1),
                         ''), 'No Reference code') AS reference_code,
         CASE WHEN is_sys THEN 'System'
              WHEN is_sp THEN 'MechaniGo.ph'
              WHEN sa_hit THEN coalesce(sa_name, 'Unknown Agent')
              ELSE owner_r END AS sender_name,
         CASE WHEN is_sys OR is_sp THEN 'system'
              WHEN sa_hit THEN 'agent'
              ELSE 'client' END AS sender_type,
         CASE WHEN is_sys OR is_sp OR sa_hit THEN owner_r
              ELSE ticket_agent END AS receiver_name,
         CASE WHEN is_sys OR is_sp OR sa_hit THEN 'client'
              ELSE 'agent' END AS receiver_type,
         CASE WHEN ta_hit THEN coalesce(ta_name, 'Unknown Agent')
              ELSE 'Unknown Agent' END AS agent_name
  FROM mr),
users AS (
  SELECT userid AS id, min(sender_name) AS name FROM menr GROUP BY userid),
elig AS (
  SELECT * FROM menr WHERE message_type = 'M' AND message_format = 'T'),
convo AS (
  -- third sort key mirrors the Spark side's struct sort, whose final
  -- field is the line itself: the synthetic lineitem carries duplicate
  -- (orderkey, linenumber) pairs, so (ts, message_id) alone can tie
  SELECT ticket_id,
         string_agg(message || '#' || message_id, ' | '
                    ORDER BY message_datecreated, message_id, message)
           AS conversation,
         max(message_datecreated) AS date_extracted
  FROM elig GROUP BY ticket_id),
ph AS (
  SELECT ticket_id, conversation, date_extracted,
         'Analyze conversation JSON: ' || conversation AS prompt
  FROM convo),
hh AS (SELECT *, md5(prompt) AS hx FROM ph),
ana AS (
  SELECT ticket_id,
         {cats}[{d[0]} % 5 + 1] AS service_category,
         substring(conversation, 1, 40) AS summary,
         CAST({d[1]} % 5 + 1 AS BIGINT) AS intent_rating,
         CAST({d[2]} % 5 + 1 AS BIGINT) AS engagement_rating,
         CAST({d[3]} % 5 + 1 AS BIGINT) AS clarity_rating,
         CAST({d[4]} % 5 + 1 AS BIGINT) AS resolution_rating,
         CAST({d[5]} % 5 + 1 AS BIGINT) AS sentiment_rating,
         {locs4}[{d[6]} % 4 + 1] AS location,
         '2024-01-15' AS schedule_date,
         CASE WHEN {d[7]} % 2 = 0 THEN '3PM' ELSE '11:30AM' END AS schedule_time,
         'car-' || substring(hx, 9, 1) AS car,
         CASE WHEN {d[9]} % 2 = 0 THEN 'Yes' ELSE 'No' END AS inspection,
         CASE WHEN {d[10]} % 2 = 0 THEN 'Yes' ELSE 'No' END AS quotation,
         CAST(floor(length(prompt) / 4.0) AS BIGINT) AS tokens,
         'stub-v1' AS model,
         date_extracted,
         CASE WHEN {d[7]} % 2 = 0
              THEN TIMESTAMP '2024-01-15 15:00:00'
              ELSE TIMESTAMP '2024-01-15 11:30:00' END AS schedule_ts
  FROM hh),
locs AS (SELECT DISTINCT location FROM ana),
gazd AS (
  SELECT lower(n_name) AS g, 'nation' AS geo_level FROM nation
  UNION ALL {cities}),
lgr AS (SELECT location, {_GRAMS3.format(s="location")} AS lgr FROM locs),
ggr AS (SELECT g, geo_level, {_GRAMS3.format(s="g")} AS ggr FROM gazd),
geosc AS (
  SELECT l.location, g.g, g.geo_level, {jac} AS s
  FROM lgr l CROSS JOIN ggr g
  WHERE {jac} >= 0.3),
geo AS (
  SELECT location, g AS matched_address, geo_level FROM (
    SELECT *, row_number() OVER (
      PARTITION BY location
      ORDER BY s DESC, g ASC, geo_level ASC) AS rn
    FROM geosc) WHERE rn = 1),
svcs AS ({svc}),
vi AS (
  SELECT location,
         max({lev.format(a="location", b="muni")}) AS best
  FROM locs CROSS JOIN svcs GROUP BY location),
anag AS (
  SELECT a.*, g.matched_address, g.geo_level,
         CASE WHEN v.best >= 40.0 THEN 'Yes' ELSE 'No' END AS viable
  FROM ana a
  LEFT JOIN geo g USING (location)
  JOIN vi v USING (location)),
runmet AS (
  SELECT CAST(count(*) FILTER (WHERE e.id IS NULL) AS BIGINT) AS no_new,
         CAST(count(*) FILTER (WHERE e.id IS NOT NULL) AS BIGINT)
           AS no_existing,
         CAST(count(*) AS BIGINT) AS no_total
  FROM (SELECT DISTINCT id FROM w2) r
  LEFT JOIN (SELECT DISTINCT id FROM w1) e USING (id)),
logrow AS (
  SELECT TIMESTAMP '2024-02-02 20:00:00' AS extraction_date,
         no_new, no_existing, no_total,
         (SELECT CAST(coalesce(sum(tokens), 0) AS BIGINT) FROM anag)
           AS total_tokens,
         (SELECT max(model) FROM anag) AS model
  FROM runmet)
SELECT CAST(1 AS BIGINT) AS stage_no, 'tickets_upsert' AS stage,
       (SELECT CAST(count(*) AS BIGINT) FROM (
          SELECT id FROM w1 UNION ALL SELECT id FROM w2)) AS rows_in,
       (SELECT CAST(count(*) AS BIGINT) FROM tickets) AS rows_out,
       (SELECT CAST(coalesce(sum({h8}), 0) AS BIGINT) FROM (
          SELECT md5(id || '|' || status || '|' || tags || '|' || agentid
            || '|' || coalesce(owner_name, '-')
            || '|' || strftime(date_created, '{_FMT_DUCK}')
            || '|' || strftime(datetime_extracted, '{_FMT_DUCK}')) AS h8x
          FROM tickets)) AS checksum
UNION ALL
SELECT 2, 'recent_window',
       (SELECT count(*) FROM tickets),
       (SELECT count(*) FROM win),
       (SELECT CAST(coalesce(sum({h8}), 0) AS BIGINT) FROM (
          SELECT md5(id || '|' || agentid || '|' ||
                     coalesce(owner_name, '-')) AS h8x
          FROM win))
UNION ALL
SELECT 3, 'messages_enrich',
       (SELECT count(*) FROM win),
       (SELECT count(*) FROM menr),
       (SELECT CAST(coalesce(sum({h8}), 0) AS BIGINT) FROM (
          SELECT md5(message_id || '|' || userid || '|' || sender_name
            || '|' || sender_type || '|' || receiver_name || '|' ||
            receiver_type || '|' || agent_name || '|' || reference_code
            || '|' || strftime(message_datecreated, '{_FMT_DUCK}')) AS h8x
          FROM menr))
UNION ALL
SELECT 4, 'users_upsert',
       (SELECT count(*) FROM menr),
       (SELECT count(*) FROM users),
       (SELECT CAST(coalesce(sum({h8}), 0) AS BIGINT) FROM (
          SELECT md5(id || '|' || name) AS h8x FROM users))
UNION ALL
SELECT 5, 'convo_analysis',
       (SELECT count(*) FROM elig),
       (SELECT count(*) FROM ana),
       (SELECT CAST(coalesce(sum({h8}), 0) AS BIGINT) FROM (
          SELECT md5(ticket_id || '|' || service_category
            || '|' || CAST(intent_rating AS VARCHAR)
            || '|' || CAST(engagement_rating AS VARCHAR)
            || '|' || CAST(clarity_rating AS VARCHAR)
            || '|' || CAST(resolution_rating AS VARCHAR)
            || '|' || CAST(sentiment_rating AS VARCHAR)
            || '|' || location || '|' || schedule_date || '|' || schedule_time
            || '|' || car || '|' || inspection || '|' || quotation
            || '|' || CAST(tokens AS VARCHAR) || '|' || summary
            || '|' || strftime(date_extracted, '{_FMT_DUCK}')
            || '|' || strftime(schedule_ts, '{_FMT_DUCK}')) AS h8x
          FROM ana))
UNION ALL
SELECT 6, 'geocode_viable',
       (SELECT count(*) FROM ana),
       (SELECT count(*) FROM anag),
       (SELECT CAST(coalesce(sum({h8}), 0) AS BIGINT) FROM (
          SELECT md5(ticket_id || '|' || coalesce(matched_address, '-')
            || '|' || coalesce(geo_level, '-') || '|' || viable) AS h8x
          FROM anag))
UNION ALL
SELECT 7, 'history_merge',
       (SELECT count(*) FROM anag),
       (SELECT count(*) FROM anag),
       (SELECT CAST(2 * coalesce(sum({h8}), 0) AS BIGINT) FROM (
          SELECT md5(ticket_id || '|' || model || '|' || viable) AS h8x
          FROM anag))
UNION ALL
SELECT 8, 'logs_metrics',
       (SELECT count(*) FROM w2),
       1,
       (SELECT CAST(coalesce(sum({h8}), 0) AS BIGINT) FROM (
          SELECT md5(strftime(extraction_date, '{_FMT_DUCK}')
            || '|' || CAST(no_new AS VARCHAR)
            || '|' || CAST(no_existing AS VARCHAR)
            || '|' || CAST(no_total AS VARCHAR)
            || '|' || CAST(total_tokens AS VARCHAR)
            || '|' || model) AS h8x
          FROM logrow))
"""


QUERIES = {
    "elt_parity_pipeline": q_elt_parity_pipeline,
}

ORACLES: dict[str, str] = {
    "elt_parity_pipeline": _elt_parity_sql(),
}
