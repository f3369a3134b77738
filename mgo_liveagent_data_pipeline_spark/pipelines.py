"""End-to-end route pipelines — the reference's FastAPI entry points
(SURVEY §3) assembled from transforms + enrich + sinks. A user of the
reference maps each route onto one function here:

POST /extract/process-tickets-and-messages → run_ticket_pipeline +
    run_message_pipeline (Extractor.py:56-176)
POST /extract/process-convo → run_convo_pipeline (Extractor.py:254-327)
POST /extract/process-agents → run_agents_pipeline (Extractor.py:212)
POST /process-logs → run_logs_pipeline (ExtractionLogger.py:95-176)

Each stage is lazy until its sink write; incremental semantics come from
the staged-MERGE upsert (K4) exactly like the reference's BigQuery MERGE.

The convo route's stages (``analyze_convo``, ``write_convo_analysis``)
and ``run_logs_pipeline`` are shared: the service routes (api.Engine)
and the parity member (plans/parity.py) both call them, and both run
independent writers concurrently through ``overlap``.
"""
from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .enrich.convo import analyze_conversations
from .functions.datetimes import fuse_schedule, to_manila
from .operators.dedup import lineage_cut
from .operators.setops import new_vs_existing_counts
from .session import ship_package
from .sinks.writers import (
    append,
    history_append,
    overwrite,
    read_flat,
    table_path,
    upsert,
)
from .transforms.messages import process_messages
from .transforms.tickets import process_agents, process_tags, process_tickets


def run_ticket_pipeline(
    spark: SparkSession,
    raw_tickets: DataFrame,
    base_dir: str,
    now: Column | None = None,
) -> str:
    """Transform + idempotent MERGE upsert keyed on id (Extractor.py:56-100)."""
    df = process_tickets(raw_tickets, now)
    return upsert(spark, df, base_dir, "tickets", "id")


def run_message_pipeline(
    spark: SparkSession,
    raw_messages: DataFrame,
    agents: DataFrame,
    base_dir: str,
    now: Column | None = None,
) -> str:
    """Enrich (sender/receiver, reference_code) + append-only load
    (Extractor.py:102-176; messages are append-only, Extractor.py:162)."""
    df = process_messages(raw_messages, agents, now=now)
    return append(df, base_dir, "messages")


def run_agents_pipeline(
    spark: SparkSession, raw_agents: DataFrame, base_dir: str
) -> str:
    """Dimension refresh: WRITE_TRUNCATE (Extractor.py:212)."""
    return overwrite(process_agents(raw_agents), base_dir, "agents")


def run_tags_pipeline(
    spark: SparkSession, raw_tags: DataFrame, base_dir: str
) -> str:
    """Tags dimension refresh: NaN-fill + WRITE_TRUNCATE
    (Extractor.py:239, extraction_helpers.py:242-245)."""
    return overwrite(process_tags(raw_tags), base_dir, "tags")


def convo_messages(messages: DataFrame) -> DataFrame:
    """P4: the messages the LLM analyses — chat (type M) rows in text
    (format T)."""
    return messages.where(
        (F.col("message_type") == "M") & (F.col("message_format") == "T")
    )


def analyze_convo(
    spark: SparkSession,
    messages: DataFrame,
    gateway: Callable[[str], tuple[str, int, str]],
) -> DataFrame:
    """P4 filter → A5+U1 mapInArrow → F11 schedule fusion, materialized
    by an EAGER lineage cut: every consumer (history append, the MERGE's
    anti-join and union, concurrent broadcast jobs) reads the cut, so the
    gateway runs once per conversation per run and history and current
    state record the same analysis. The package is shipped first: the
    workers import it whatever the driver's cwd."""
    ship_package(spark)
    analyzed = analyze_conversations(
        convo_messages(messages),
        gateway,
        key_col="ticket_id",
        order_cols=("message_datecreated", "message_id"),
        text_col="message",
        id_col="message_id",
        ts_col="message_datecreated",
    ).withColumn(
        "schedule_ts",
        fuse_schedule(F.col("schedule_date"), F.col("schedule_time")),
    )
    return lineage_cut(analyzed, eager=True)


def write_convo_analysis(
    spark: SparkSession, analyzed: DataFrame, base_dir: str
) -> str:
    """K5 history append, THEN K4 current-state MERGE on ticket_id — the
    reference order (extractor_bq_helpers.py:83-108): a failed history
    load leaves the current state untouched."""
    history_append(spark, analyzed, base_dir, "convo_analysis")
    return upsert(spark, analyzed, base_dir, "convo_analysis", "ticket_id")


def run_convo_pipeline(
    spark: SparkSession,
    messages: DataFrame,
    gateway: Callable[[str], tuple[str, int, str]],
    base_dir: str,
) -> str:
    """POST /extract/process-convo (Extractor.py:254-327)."""
    return write_convo_analysis(
        spark, analyze_convo(spark, messages, gateway), base_dir
    )


def run_logs_pipeline(
    spark: SparkSession,
    run_keys: DataFrame,
    existing_keys: DataFrame,
    key: str,
    analyzed: DataFrame,
    base_dir: str,
    now: Column | None = None,
) -> str:
    """Run metrics: E1/E2 new-vs-existing accounting + A1 token totals →
    one-row append to logs (ExtractionLogger.py:95-176). ``now`` is the
    extraction clock, a UTC instant injectable like add_extraction_timestamp
    (default: the current second), stored on the Manila wall clock like
    the tickets' ``datetime_extracted``."""
    counts = new_vs_existing_counts(run_keys, existing_keys, key)
    tokens = analyzed.agg(
        F.coalesce(F.sum("tokens"), F.lit(0)).cast("long").alias("total_tokens"),
        F.max("model").alias("model"),
    )
    if now is None:
        now = F.date_trunc("second", F.current_timestamp())
    row = counts.crossJoin(tokens).select(
        to_manila(now).alias("extraction_date"),
        F.col("n_new").cast("long").alias("no_new"),
        F.col("n_existing").cast("long").alias("no_existing"),
        F.col("n_total").cast("long").alias("no_total"),
        "total_tokens",
        "model",
    )
    return append(row, base_dir, "logs")


def read_table(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    """A route table, read with its stored schema (``read_flat``)."""
    return read_flat(spark, table_path(base_dir, name))


def overlap(*thunks) -> list:
    """Run independent writer steps concurrently, each submitting its
    Spark jobs from its own thread. ONLY for steps that write DIFFERENT
    tables and read only already-materialized inputs or tables no
    sibling writes: every table's own write order is preserved by the
    surrounding control flow, so the final table states are
    byte-identical to the sequential schedule.

    Failure semantics (deliberately weaker than the reference's
    sequential route, where a step raising prevents every later step
    from starting): all submitted steps run to completion — there is no
    cancellation, so a failing step does not abort its sibling writers.
    Every failure is surfaced: the first exception (in submission order)
    is raised and any further ones are logged before it propagates, so a
    multi-writer failure is fully reported instead of the extras being
    discarded. Returns the steps' results in submission order.

    Each step runs under the caller's local properties (job group,
    description), so the jobs it submits are labelled like the caller's."""
    from concurrent.futures import ThreadPoolExecutor, wait

    from pyspark import inheritable_thread_target

    spark = SparkSession.active()
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [
            ex.submit(inheritable_thread_target(spark)(t)) for t in thunks
        ]
        wait(futures)
    errs = [e for f in futures if (e := f.exception()) is not None]
    if errs:
        import logging

        for extra in errs[1:]:
            logging.getLogger(__name__).error(
                "concurrent writer step also failed: %r", extra
            )
        raise errs[0]
    return [f.result() for f in futures]
