"""Enrichment query registry — the reference's external-service stages
mapped onto the driver's tables, each with a DuckDB oracle.

* u1_convo_analysis — the flagship LLM stage (ConvoDataExtract) with the
  deterministic stub gateway: every output field is a pure function of
  md5(prompt), so the oracle reproduces it bit-for-bit.
* u5_flatten_messages — UDTF-shaped explode-flatten (core/Ticket.py:149-183).
* u2_geocode_two_phase — the geocoder's coarse→prune→fine similarity plan
  (core/Geocode.py:45-89) over a synthesized nation/region gazetteer.
* multimodal_decode — Arrow-batched mapInPandas metadata extraction over a
  binary media column; the deterministic fake codec makes it oracle-able.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..enrich.convo import analyze_conversations
from ..enrich.gateway import FailingGateway, FallbackGateway, StubGateway
from ..functions.datetimes import fuse_schedule
from ..operators.joins import two_phase_similarity_join
from ..operators.multimodal import decode_image_meta, to_media_column
from ..session import ship_package
from ..sources.tables import load_table, local_table


def q_u1_convo_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+A5+P10+F11: per-user conversation assembly → LLM gateway →
    typed whitelist row → schedule fusion.

    The gateway is the full model-fallback chain (core/LLMGateway.py:39-42
    gpt-4o-mini → gemini-2.5-flash): the always-raising primary forces
    EVERY completion through the fallback path, and the oracle's
    ``model = 'stub-v1'`` column asserts the secondary's attribution on
    every row — the chain is driver-checked end-to-end, with zero
    ANALYSIS_FAILED rows (both links would have to fail for one)."""
    ship_package(spark)
    events = load_table(spark, sf_dir, "events")
    gateway = FallbackGateway(FailingGateway(), StubGateway())
    out = analyze_conversations(events, gateway, key_col="user_id")
    return out.withColumn(
        "schedule_ts",
        fuse_schedule(F.col("schedule_date"), F.col("schedule_time")),
    )


def q_u5_flatten_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: one nested-group row → N inner rows (explode_outer + position,
    core/Ticket.py:149-183; tokens stand in for inner messages), unioned
    with sliding-window document chunking (the pre-embedding splitter) —
    both are the row-explosion family."""
    from ..operators.textops import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    toks = F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 10)
    base = docs.select("doc_id", toks.alias("toks"))
    flat = base.select(
        "doc_id", F.posexplode_outer("toks").alias("msg_pos", "msg_text")
    ).select(
        F.lit("flatten").alias("mode"),
        "doc_id",
        F.col("msg_pos").cast("long").alias("pos"),
        F.col("msg_text").alias("text"),
        F.lit(None).cast("long").alias("n_tokens"),
    )
    chunks = chunk_documents(docs).select(
        F.lit("chunk").alias("mode"),
        "doc_id",
        F.col("chunk_no").cast("long").alias("pos"),
        F.col("chunk_text").alias("text"),
        F.col("n_chunk_tokens").alias("n_tokens"),
    )
    return flat.unionByName(chunks)


def q_u2_geocode_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/J5: two-phase gazetteer similarity join. Gazetteer synthesized
    from nation (municity), region (provdist) and nation±suffix (barangay)
    rows; addresses are deliberately misspelled nation names."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    muni = nation.select(
        F.lower("n_name").alias("address"),
        F.lit("municity").alias("geo_level"),
        F.col("n_nationkey").cast("int").alias("municity_code"),
        F.col("n_regionkey").cast("int").alias("provdist_code"),
    )
    prov = region.select(
        F.lower("r_name").alias("address"),
        F.lit("provdist").alias("geo_level"),
        F.lit(-1).cast("int").alias("municity_code"),
        F.col("r_regionkey").cast("int").alias("provdist_code"),
    )
    brgy = nation.select(
        F.concat(F.lower("n_name"), F.lit(" north")).alias("address"),
        F.lit("barangay").alias("geo_level"),
        F.col("n_nationkey").cast("int").alias("municity_code"),
        F.col("n_regionkey").cast("int").alias("provdist_code"),
    ).unionByName(
        nation.select(
            F.concat(F.lower("n_name"), F.lit(" south")).alias("address"),
            F.lit("barangay").alias("geo_level"),
            F.col("n_nationkey").cast("int").alias("municity_code"),
            F.col("n_regionkey").cast("int").alias("provdist_code"),
        )
    )
    gaz = muni.unionByName(prov).unionByName(brgy)
    addrs = nation.select(
        F.concat(F.lower("n_name"), F.lit(" nrth")).alias("address")
    )
    out = two_phase_similarity_join(
        addrs, gaz, addr_col="address", gaz_col="address", n=3,
        coarse_threshold=0.1, threshold=0.1,
    )
    return out.select(
        "address",
        "matched_address",
        "geo_level",
        F.round(F.col("__score"), 6).alias("score"),
    )


def q_j1_sender_receiver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 rule cascade: the reference's sender/receiver resolution
    (TicketMessageProcessor.py:207-292) over message-shaped rows synthesized
    from events, agents dim from nation (+ the special id)."""
    from ..transforms.messages import resolve_sender_receiver

    events = load_table(spark, sf_dir, "events")
    msgs = events.select(
        "event_id",
        F.when(F.col("event_id") % 11 == 0, F.lit("system00"))
        .when(F.col("event_id") % 13 == 0, F.lit("00054iwg"))
        .otherwise(F.concat(F.lit("u"), (F.col("user_id") % 50).cast("string")))
        .alias("userid"),
        F.concat(F.lit("u"), (F.col("user_id") % 7).cast("string")).alias(
            "agentid"
        ),
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("owner"), F.col("user_id").cast("string")))
        .alias("owner_name"),
    )
    nation = load_table(spark, sf_dir, "nation")
    agents = nation.select(
        F.concat(F.lit("u"), F.col("n_nationkey").cast("string")).alias("id"),
        F.col("n_name").alias("name"),
    ).unionByName(
        local_table(
            spark, [("00054iwg", "Special Raw")], "id string, name string"
        )
    )
    out = resolve_sender_receiver(msgs, agents)
    return out.select(
        "event_id",
        "sender_name",
        "sender_type",
        "receiver_name",
        "receiver_type",
        "agent_name",
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary media column → mapInPandas metadata
    extraction (deterministic fake codec; real codec slot is a declared
    stub, operators/multimodal.py:38)."""
    ship_package(spark)
    docs = load_table(spark, sf_dir, "documents")
    return decode_image_meta(to_media_column(docs))


def q_u2_geocode_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 full wrapper: gazetteer bulk resolution + rate-limited external
    fallback for the residual misses (stubbed deterministic geocoder)."""
    ship_package(spark)
    from ..enrich.geocode import geocode_with_fallback

    nation = load_table(spark, sf_dir, "nation")
    gaz = nation.select(
        F.lower("n_name").alias("address"),
        F.lit("municity").alias("geo_level"),
        F.col("n_nationkey").cast("int").alias("municity_code"),
        F.col("n_regionkey").cast("int").alias("provdist_code"),
        (F.col("n_nationkey") * F.lit(1.5)).alias("latitude"),
        (F.col("n_regionkey") * F.lit(10.0)).alias("longitude"),
    )
    hits = nation.select(
        F.concat(F.lower("n_name"), F.lit(" nrth")).alias("address")
    )
    misses = nation.select(
        F.concat(F.lit("zzqx"), F.col("n_nationkey").cast("string")).alias(
            "address"
        )
    )
    addrs = hits.unionByName(misses)
    return geocode_with_fallback(
        addrs, gaz, n=3, threshold=0.1, throttle=False,
        max_external_partitions=4,
    )


QUERIES = {
    "u1_convo_analysis": q_u1_convo_analysis,
    "u5_flatten_messages": q_u5_flatten_messages,
    "u2_geocode_two_phase": q_u2_geocode_two_phase,
    "u2_geocode_fallback": q_u2_geocode_fallback,
    "j1_sender_receiver": q_j1_sender_receiver,
    "multimodal_decode": q_multimodal_decode,
}


def _hexd(expr: str) -> str:
    """DuckDB: value of one hex digit expression (0-15)."""
    return f"(strpos('0123456789abcdef', {expr}) - 1)"


def _hex4(col: str, start: int) -> str:
    """DuckDB: integer value of 4 hex chars of md5(col) from 1-based pos."""
    parts = [
        f"{_hexd(f'substring(md5({col}), {start + i}, 1)')} * {16 ** (3 - i)}"
        for i in range(4)
    ]
    return "(" + " + ".join(parts) + ")"


def _hexn(expr: str, start: int, n: int) -> str:
    """DuckDB: integer value of n hex chars of an md5-hex column."""
    parts = [
        f"CAST({_hexd(f'substring({expr}, {start + i}, 1)')} AS BIGINT)"
        f" * {16 ** (n - 1 - i)}"
        for i in range(n)
    ]
    return "(" + " + ".join(parts) + ")"


def _u1_oracle() -> str:
    d = [_hexd(f"substring(hx, {i + 1}, 1)") for i in range(11)]
    cats = "['repair','maintenance','inspection','quotation','other']"
    locs = "['manila','cebu','davao','quezon']"
    return f"""
        WITH convo AS (
          SELECT user_id,
                 string_agg(event_type || '#' || CAST(event_id AS VARCHAR),
                            ' | ' ORDER BY ts, event_id) AS conversation,
                 max(ts) AS date_extracted
          FROM events GROUP BY user_id),
        p AS (
          SELECT user_id, conversation, date_extracted,
                 'Analyze conversation JSON: ' || conversation AS prompt
          FROM convo),
        h AS (SELECT *, md5(prompt) AS hx FROM p)
        SELECT user_id,
               {cats}[{d[0]} % 5 + 1] AS service_category,
               substring(conversation, 1, 40) AS summary,
               CAST({d[1]} % 5 + 1 AS BIGINT) AS intent_rating,
               CAST({d[2]} % 5 + 1 AS BIGINT) AS engagement_rating,
               CAST({d[3]} % 5 + 1 AS BIGINT) AS clarity_rating,
               CAST({d[4]} % 5 + 1 AS BIGINT) AS resolution_rating,
               CAST({d[5]} % 5 + 1 AS BIGINT) AS sentiment_rating,
               {locs}[{d[6]} % 4 + 1] AS location,
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
        FROM h
    """


_JAC3 = (
    "CAST(length(list_intersect({a}, {b})) AS DOUBLE)"
    " / CAST(length(list_distinct(list_concat({a}, {b}))) AS DOUBLE)"
)

_GRAMS3 = (
    "list_distinct(list_transform(range(1, greatest(length({s}) - 2, 1) + 1),"
    " i -> substring({s}, CAST(i AS INT), 3)))"
)


def _u2_oracle() -> str:
    jac = _JAC3.format(a="a.ag", b="g.gg")
    return f"""
        WITH muni AS (
          SELECT lower(n_name) AS g, 'municity' AS geo_level,
                 CAST(n_nationkey AS INT) AS municity_code,
                 CAST(n_regionkey AS INT) AS provdist_code
          FROM nation),
        prov AS (
          SELECT lower(r_name) AS g, 'provdist' AS geo_level,
                 CAST(-1 AS INT) AS municity_code,
                 CAST(r_regionkey AS INT) AS provdist_code
          FROM region),
        brgy AS (
          SELECT lower(n_name) || ' north' AS g, 'barangay' AS geo_level,
                 CAST(n_nationkey AS INT) AS municity_code,
                 CAST(n_regionkey AS INT) AS provdist_code
          FROM nation
          UNION ALL
          SELECT lower(n_name) || ' south', 'barangay',
                 CAST(n_nationkey AS INT), CAST(n_regionkey AS INT)
          FROM nation),
        coarse_dim AS (SELECT * FROM muni UNION ALL SELECT * FROM prov),
        addrs AS (
          SELECT lower(n_name) || ' nrth' AS address,
                 {_GRAMS3.format(s="lower(n_name) || ' nrth'")} AS ag
          FROM nation),
        gazg AS (
          SELECT *, {_GRAMS3.format(s="g")} AS gg FROM coarse_dim),
        coarse AS (
          SELECT a.address, g.municity_code, g.provdist_code
          FROM addrs a CROSS JOIN gazg g
          WHERE {jac} >= 0.1),
        fine_cand AS (
          SELECT DISTINCT * FROM (
            SELECT * FROM brgy
            WHERE municity_code IN (SELECT DISTINCT municity_code FROM coarse)
            UNION ALL
            SELECT * FROM brgy
            WHERE provdist_code IN (SELECT DISTINCT provdist_code FROM coarse))),
        pool AS (
          SELECT *, {_GRAMS3.format(s="g")} AS gg FROM (
            SELECT * FROM fine_cand UNION ALL SELECT * FROM coarse_dim)),
        fine AS (
          SELECT a.address, g.g AS matched_address, g.geo_level,
                 {_JAC3.format(a="a.ag", b="g.gg")} AS s
          FROM addrs a CROSS JOIN pool g
          WHERE {_JAC3.format(a="a.ag", b="g.gg")} >= 0.1),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY address
                    ORDER BY s DESC, matched_address ASC) AS rn
          FROM fine)
        SELECT address, matched_address, geo_level, round(s, 6) AS score
        FROM ranked WHERE rn = 1
    """


def _u2_fallback_oracle() -> str:
    jac = _JAC3.format(a="a.agr", b="g.ggr")
    lat6 = _hexn("hx", 1, 6)
    lon6 = _hexn("hx", 7, 6)
    return f"""
        WITH gaz AS (
          SELECT lower(n_name) AS g,
                 CAST(n_nationkey AS DOUBLE) * 1.5 AS latitude,
                 CAST(n_regionkey AS DOUBLE) * 10.0 AS longitude
          FROM nation),
        addrs AS (
          SELECT lower(n_name) || ' nrth' AS address FROM nation
          UNION ALL
          SELECT 'zzqx' || CAST(n_nationkey AS VARCHAR) FROM nation),
        ag AS (SELECT address, {_GRAMS3.format(s="address")} AS agr FROM addrs),
        gg AS (SELECT *, {_GRAMS3.format(s="g")} AS ggr FROM gaz),
        ranked AS (
          SELECT a.address, g.g, g.latitude, g.longitude, {jac} AS s,
                 row_number() OVER (PARTITION BY a.address
                                    ORDER BY {jac} DESC, g.g ASC) AS rn
          FROM ag a CROSS JOIN gg g
          WHERE {jac} >= 0.1),
        hits AS (
          SELECT address, g AS matched_address, latitude, longitude,
                 'gazetteer' AS source
          FROM ranked WHERE rn = 1),
        miss AS (
          SELECT address, md5(address) AS hx FROM addrs
          WHERE address NOT IN (SELECT address FROM hits))
        SELECT address, matched_address, latitude, longitude, source FROM hits
        UNION ALL
        SELECT address,
               CASE WHEN substring(hx, 1, 1) = 'f' THEN NULL
                    ELSE upper(address) END AS matched_address,
               CASE WHEN substring(hx, 1, 1) = 'f' THEN NULL
                    ELSE ({lat6} % 18000) / 100.0 - 90.0 END AS latitude,
               CASE WHEN substring(hx, 1, 1) = 'f' THEN NULL
                    ELSE ({lon6} % 36000) / 100.0 - 180.0 END AS longitude,
               CASE WHEN substring(hx, 1, 1) = 'f' THEN 'unresolved'
                    ELSE 'external' END AS source
        FROM miss
    """


_J1_SENDER_RECEIVER_ORACLE = """
    WITH agents AS (
      SELECT 'u' || CAST(n_nationkey AS VARCHAR) AS id, n_name AS name
      FROM nation
      UNION ALL SELECT '00054iwg', 'Special Raw'),
    msgs AS (
      SELECT event_id,
             CASE WHEN event_id % 11 = 0 THEN 'system00'
                  WHEN event_id % 13 = 0 THEN '00054iwg'
                  ELSE 'u' || CAST(user_id % 50 AS VARCHAR) END AS userid,
             'u' || CAST(user_id % 7 AS VARCHAR) AS agentid,
             CASE WHEN event_id % 17 = 0 THEN NULL
                  ELSE 'owner' || CAST(user_id AS VARCHAR) END AS owner_name
      FROM events),
    j AS (
      SELECT m.*,
             sa.name AS sa_name, sa.id IS NOT NULL AS sa_hit,
             ta.name AS ta_name, ta.id AS ta_id, ta.id IS NOT NULL AS ta_hit
      FROM msgs m
      LEFT JOIN agents sa ON m.userid = sa.id
      LEFT JOIN agents ta ON m.agentid = ta.id),
    r AS (
      SELECT *,
             coalesce(owner_name, 'Unknown User') AS owner_r,
             CASE WHEN ta_hit AND ta_id = '00054iwg' THEN 'MechaniGo.ph'
                  WHEN ta_hit THEN coalesce(ta_name, 'Unknown Agent')
                  ELSE 'Unknown Agent' END AS ticket_agent,
             userid = 'system00' AS is_sys,
             userid = '00054iwg' AS is_sp
      FROM j)
    SELECT event_id,
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
    FROM r
"""

ORACLES: dict[str, str] = {
    "u1_convo_analysis": _u1_oracle(),
    "u2_geocode_fallback": _u2_fallback_oracle(),
    "j1_sender_receiver": _J1_SENDER_RECEIVER_ORACLE,
    # token flatten ∪ sliding-window chunks (50 tokens, stride 40 —
    # mirrors operators/textops.py:chunk_documents)
    "u5_flatten_messages": r"""
        WITH base AS (
          SELECT doc_id,
                 string_split_regex(trim(text), '\s+')[1:10] AS toks
          FROM documents)
        SELECT 'flatten' AS mode, doc_id,
               CAST(unnest(range(0, length(toks))) AS BIGINT) AS pos,
               unnest(toks) AS text,
               CAST(NULL AS BIGINT) AS n_tokens
        FROM base
        UNION ALL
        SELECT 'chunk' AS mode, doc_id, pos, text, n_tokens FROM (
          WITH t AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
            FROM documents),
          c AS (
            SELECT doc_id, tk,
                   CAST(ceil(greatest(length(tk) - 10, 1) / 40.0) AS INT) AS nc
            FROM t),
          e AS (SELECT doc_id, tk, unnest(range(0, nc)) AS i FROM c)
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 array_to_string(tk[CAST(i * 40 + 1 AS INT):CAST(i * 40 + 50 AS INT)], ' ') AS text,
                 CAST(length(tk[CAST(i * 40 + 1 AS INT):CAST(i * 40 + 50 AS INT)]) AS BIGINT) AS n_tokens
          FROM e)
    """,
    "u2_geocode_two_phase": _u2_oracle(),
    "multimodal_decode": f"""
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               md5(text) AS content_md5,
               CAST({_hex4("text", 1)} % 1920 + 1 AS BIGINT) AS fake_width,
               CAST({_hex4("text", 5)} % 1080 + 1 AS BIGINT) AS fake_height
        FROM documents
    """,
}
