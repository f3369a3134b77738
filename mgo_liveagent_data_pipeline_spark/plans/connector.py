"""Connector query registry — the REST source driven end-to-end through
``spark.read.format("liveagent")`` against canned pages (the transport is
injectable; no network in the correctness gate). The oracle is a VALUES
relation of the same canned rows, so a hash match proves the partitioned
pagination + envelope unwrap + schema defaulting round trip.
"""
from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..scratch import scratch_dir
from ..sources.rest import HAS_DATASOURCE_API, LiveAgentDataSource
from ..sources.tables import local_table

_PAGES = [
    [
        {"id": "t1", "status": "open", "owner_name": "ana"},
        {"id": "t2", "status": "closed", "owner_name": "bob"},
    ],
    [
        {"id": "t3", "status": "open", "owner_name": "cyn"},
        {"id": "t4", "status": "pending", "owner_name": "dre"},
    ],
    [{"id": "t5", "status": "open"}],  # missing key → NULL (P9)
    [],  # empty page terminates pagination; later pages unreachable
    [{"id": "t9", "status": "never"}],
]

SCHEMA_DDL = "id string, status string, owner_name string"


def q_s1_rest_connector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2+S5+P9: partitioned paginated scan of a REST source."""
    if not HAS_DATASOURCE_API:
        raise RuntimeError("Python DataSource API unavailable")
    from ..session import ship_package

    # the DataSource class is instantiated inside python workers — the
    # package must be on their sys.path regardless of driver cwd
    ship_package(spark)
    # the reader implements pushFilters; Spark refuses it unless the
    # (runtime-settable) python filter-pushdown flag is on
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    fd, path = tempfile.mkstemp(suffix=".json", prefix="liveagent_fixture_")
    with os.fdopen(fd, "w") as f:
        json.dump({"tickets": _PAGES}, f)
    spark.dataSource.register(LiveAgentDataSource)
    return (
        spark.read.format("liveagent")
        .option("schema_ddl", SCHEMA_DDL)
        .option("endpoint", "tickets")
        .option("fixture_path", path)
        .option("max_pages", "10")
        .option("per_page", "5")
        .option("num_partitions", "2")
        .option("throttle", "false")
        .load()
    )


_MESSAGES = {
    "tickets/t1/messages": [
        [
            {"ticket_id": "t1", "message": "hello Ref: AB1"},
            {"ticket_id": "t1", "message": "thanks"},
        ]
    ],
    "tickets/t2/messages": [[{"ticket_id": "t2", "message": "ok"}]],
    "tickets/t3/messages": [[]],
}


def q_s3_correlated_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4: correlated sub-entity scan — per parent key, fetch child rows
    and flatten, distributed via mapInPandas with chunking."""
    from ..session import ship_package
    from ..sources.rest import fetch_correlated

    ship_package(spark)
    fd, path = tempfile.mkstemp(suffix=".json", prefix="liveagent_msgs_")
    with os.fdopen(fd, "w") as f:
        json.dump(_MESSAGES, f)
    keys = local_table(spark, [("t1",), ("t2",), ("t3",)], "id string")
    from pyspark.sql.types import StructType

    return fetch_correlated(
        keys, StructType.fromDDL("ticket_id string, message string"), path
    )


_USERS = {
    # one single-row page per user — the GET /users/{id} point lookup
    "users/u1": [[{"id": "u1", "name": "Ana", "role": "agent"}]],
    "users/u2": [[{"id": "u2", "name": "Bob", "role": "user"}]],
    "users/u4": [[{"id": "u4", "name": "Dre", "role": "agent"}]],
}


def q_s4_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S2+J2: point-lookup refresh — candidate ids deduped, already-
    cached ids removed with a left-anti join, the rest fetched one
    GET /users/{id} at a time in chunks behind the per-partition token
    bucket (core/User.py:16-20, core/TicketMessageProcessor.py:91-194).
    Unknown ids (u3) tolerate a miss and yield no row."""
    from ..session import ship_package
    from ..sources.rest import fetch_correlated

    ship_package(spark)
    fd, path = tempfile.mkstemp(suffix=".json", prefix="liveagent_users_")
    with os.fdopen(fd, "w") as f:
        json.dump(_USERS, f)
    candidates = local_table(
        spark,
        [("u1",), ("u2",), ("u2",), ("u3",), ("u4",), ("u5",)],
        "id string",
    ).distinct()
    cached = local_table(spark, [("u5",)], "id string")
    from pyspark.sql import functions as F

    # the known-ids side is a bounded cache — broadcast the anti-join
    missing = candidates.join(F.broadcast(cached), on="id", how="left_anti")
    from pyspark.sql.types import StructType

    return fetch_correlated(
        missing,
        StructType.fromDDL("id string, name string, role string"),
        path,
        endpoint_template="users/{key}",
        chunk_size=2,
        rate_per_min=60000.0,  # real token bucket, negligible delay
        throttle=True,
    )


def q_s8_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: CSV scan (utils/geocode_utils.py:23) — write the nation dim out
    as headered CSV, read it back with an explicit schema (no inference
    job), proving the quote/header/type round trip."""
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    out_dir = scratch_dir("mgo_csv_")
    path = os.path.join(out_dir, "nation_csv")
    nation.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    return (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .option("header", True)
        .csv(path)
    )


def q_s9_gazetteer_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+F2: gazetteer scan + derived cleaned column + cache
    (core/Geocode.py:25-29) — loaded once, normalized (ñ/mojibake → n,
    lowercase), kept cached for every similarity join to broadcast."""
    from pyspark.sql import functions as F

    from ..sources.tables import cached_gazetteer

    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    gdir = scratch_dir("mgo_gaz_")
    path = os.path.join(gdir, "gaz.parquet")
    nation.select(
        F.col("n_nationkey").alias("gaz_id"),
        F.concat(F.col("n_name"), F.lit(" Niño")).alias("address"),
    ).write.mode("overwrite").parquet(path)
    return cached_gazetteer(spark, path)


QUERIES = {
    "s1_rest_connector": q_s1_rest_connector,
    "s3_correlated_fetch": q_s3_correlated_fetch,
    "s4_point_lookup": q_s4_point_lookup,
    "s8_csv_scan": q_s8_csv_scan,
    "s9_gazetteer_cached": q_s9_gazetteer_cached,
}

ORACLES: dict[str, str] = {
    # pages 1-3 surface; the empty page stops each partition's block scan.
    # NB: partition blocks are contiguous page ranges, so with 10 max pages
    # and 2 partitions, block 2 starts at page 6 — after the terminator —
    # and sees the empty tail.
    "s1_rest_connector": """
        SELECT * FROM (VALUES
            ('t1', 'open', 'ana'),
            ('t2', 'closed', 'bob'),
            ('t3', 'open', 'cyn'),
            ('t4', 'pending', 'dre'),
            ('t5', 'open', NULL)
        ) AS t(id, status, owner_name)
    """,
    "s3_correlated_fetch": """
        SELECT * FROM (VALUES
            ('t1', 'hello Ref: AB1'),
            ('t1', 'thanks'),
            ('t2', 'ok')
        ) AS t(ticket_id, message)
    """,
    # u3 has no fixture page (tolerated miss), u5 is cache-hit (anti-joined)
    "s4_point_lookup": """
        SELECT * FROM (VALUES
            ('u1', 'Ana', 'agent'),
            ('u2', 'Bob', 'user'),
            ('u4', 'Dre', 'agent')
        ) AS t(id, name, role)
    """,
    "s8_csv_scan": "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "s9_gazetteer_cached": """
        SELECT n_nationkey AS gaz_id,
               n_name || ' Niño' AS address,
               lower(regexp_replace(regexp_replace(n_name || ' Niño',
                     'ã±', 'n', 'g'), 'ñ', 'n', 'g')) AS address_cleaned
        FROM nation
    """,
}
