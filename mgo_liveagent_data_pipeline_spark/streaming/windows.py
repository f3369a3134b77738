"""Streaming windows — the reference's manual 6-hour extraction windows
(utils/date_utils.py:14-21, extraction_helpers.py:88-93) formalized as
Structured Streaming, plus session windows (the generalization the
reference's wall-clock scheduling approximates).

The reference reconciles late/changed rows by re-extracting on
``date_changed`` and MERGE-upserting; the streaming equivalent is
``withWatermark`` + windowed aggregation + ``foreachBatch`` upsert.

Every member runs on one micro-batch scaffold:

* ``_drain`` runs a stream to completion under ``Trigger.AvailableNow``,
  either into a memory table (the windowed and join members: the drained
  relation is deterministic and batch-complete, so an oracle can check
  it) or through ``foreachBatch`` (the ingestion members: keyed MERGEs
  into parquet tables with exactly-once commits);
* ``_sum_6h`` is the 6-hour window row every windowed member emits;
* ``stage_doc_batches`` stages a keyed input as one file per micro-batch
  and opens it as a file stream with the staged files' stored schema.
"""
from __future__ import annotations

import itertools
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import local_table

_MEMSINK_IDS = itertools.count()

MONEY = "decimal(12,2)"


@contextmanager
def state_partitions(spark: SparkSession, n: int | None):
    """Temporarily set ``spark.sql.shuffle.partitions`` for a streaming
    query's state store. Each stateful operator instantiates one state
    store per shuffle partition, so small streams pay ~1 s/query of pure
    store setup at 32 partitions (measured: 2.5 s → 1.4 s at 4). Size it
    to the stream's key cardinality / cluster, not the session default;
    ``None`` leaves the session value untouched."""
    if n is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _drain(
    spark: SparkSession,
    stream: DataFrame,
    n_state_partitions: int | None,
    checkpoint_dir: str | None,
    mode: str = "update",
    foreach_batch=None,
) -> DataFrame | None:
    """Run ``stream`` to completion (``Trigger.AvailableNow``) in output
    ``mode``: through ``foreach_batch(batch_df, batch_id)`` when given
    (returns ``None``), else into a memory table under a unique query
    name (returns that table). ``n_state_partitions`` scopes the state
    store size to the run (``state_partitions``).

    Without ``checkpoint_dir`` the query's sink either cannot resume
    anyway (memory sink) or is idempotent (MERGE upsert — reprocessing
    re-emits the same rows): the offset/commit log has no durability
    value, so it goes on shared memory when available and skips the
    per-batch fsync-to-disk cost (~0.13 s/query measured) — and is
    REMOVED once the query terminates (a RAM-backed dir leaked per query
    would accumulate across suite/bench runs). Production resumable
    streams pass an explicit durable ``checkpoint_dir``, which is left
    untouched."""
    writer = stream.writeStream.outputMode(mode)
    name = None
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    else:
        name = f"mgo_stream_{os.getpid()}_{next(_MEMSINK_IDS)}"
        writer = writer.format("memory").queryName(name)
    ckpt = checkpoint_dir
    if ckpt is None:
        base = "/dev/shm" if os.path.isdir("/dev/shm") else None
        ckpt = tempfile.mkdtemp(prefix="mgo_ckpt_", dir=base)
    try:
        with state_partitions(spark, n_state_partitions):
            writer.option("checkpointLocation", ckpt).trigger(
                availableNow=True
            ).start().awaitTermination()
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return None if name is None else spark.table(name)


def _sum_6h(ev: DataFrame) -> DataFrame:
    """The 6-hour window row: event count and decimal-exact value sum per
    window. Window starts are epoch-aligned, so a drained result equals
    the batch expression (functions.datetimes.tumbling_6h_bucket). The
    caller applies its watermark (or dedup) first."""
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(MONEY)), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events", "total_value"
        )
    )


def _write_one_file(df: DataFrame, dest: str) -> None:
    """Write ``df`` as the single parquet file ``dest``: a one-partition
    write to a hidden sibling, whose part file is then renamed into
    place, so a directory listing never shows a partial file."""
    tmp = os.path.join(os.path.dirname(dest), f".{os.path.basename(dest)}.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet"))
    os.replace(os.path.join(tmp, part), dest)
    shutil.rmtree(tmp, ignore_errors=True)


def _as_stream_dir(path: str) -> str:
    """The streaming file source requires a directory; testdata tables are
    single parquet files. Expose the file through a temp dir symlink (zero
    copy — at scale the source is already a directory/table and this is a
    no-op)."""
    if os.path.isdir(path):
        return path
    d = tempfile.mkdtemp(prefix="mgo_stream_src_")
    os.symlink(path, os.path.join(d, os.path.basename(path)))
    return d


# (path, duplicated) → (source schema, staged stream dir). The five
# stream_suite members previously each re-read the parquet footer and
# re-staged a symlink dir for the same source; one memoized read serves
# them all (the testdata is immutable for a run).
_SRC_CACHE: dict[tuple[str, bool], tuple] = {}


def _event_stream(spark: SparkSession, path: str, duplicate: bool = False):
    """File stream over the events table with ``ts`` normalized to
    TimestampType, whatever the parquet's physical encoding (INT64 nanos
    surfaced as a raw long, TIMESTAMP_NTZ micros, or plain TIMESTAMP —
    see sources.tables.EVENT_TS_TABLES). With ``duplicate`` the staged
    dir exposes the same file under two names, feeding every event twice
    (the redelivery fixture for ingestion dedup)."""
    from pyspark.sql import types as T

    key = (path, duplicate)
    cached = _SRC_CACHE.get(key)
    if cached is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(path).schema
        if duplicate:
            d = tempfile.mkdtemp(prefix="mgo_stream_dup_")
            os.symlink(path, os.path.join(d, "copy_a.parquet"))
            os.symlink(path, os.path.join(d, "copy_b.parquet"))
        else:
            d = _as_stream_dir(path)
        cached = _SRC_CACHE[key] = (schema, d)
    schema, d = cached
    src = spark.readStream.schema(schema).parquet(d)
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return src


def stream_tumbling_6h(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events",
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """6-hour tumbling windows over the events stream, run to completion
    with AvailableNow. Window starts are epoch-aligned, so results equal
    the batch expression (functions.datetimes.tumbling_6h_bucket) —
    verified by sharing the f8 oracle shape."""
    ev = _event_stream(spark, os.path.join(sf_dir, f"{table}.parquet"))
    return _drain(
        spark, _sum_6h(ev.withWatermark("ts", "1 hour")),
        n_state_partitions, checkpoint_dir, "complete",
    )


def stream_append_6h(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events",
    delay: str = "1 hour",
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Append-mode 6-hour tumbling windows: a window row is emitted exactly
    once, when the watermark (max event time − ``delay``) passes its end —
    the unbounded-state-safe production mode (complete mode re-emits the
    whole result and keeps all state forever). Windows still open when the
    stream drains (end > final watermark) are withheld; the batch oracle
    applies the same cutoff. At 100 TB this is the only viable output mode:
    state for closed windows is dropped eagerly and the sink receives
    inserts only.
    """
    ev = _event_stream(spark, os.path.join(sf_dir, f"{table}.parquet"))
    return _drain(
        spark, _sum_6h(ev.withWatermark("ts", delay)),
        n_state_partitions, checkpoint_dir, "append",
    )


def stream_upsert_6h(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    table: str = "events",
    sink_name: str = "events_6h",
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> str:
    """The production incremental path: streaming 6-hour windowed
    aggregation MERGE-upserted into a parquet table via foreachBatch —
    the reference's manual 6-h re-extraction + BigQuery MERGE
    (tickets_route_helpers.py:13-16 + K4) as exactly-once Structured
    Streaming. Late/changed rows simply re-emit their window row and the
    upsert replaces it (same reconciliation the reference gets from MERGE).
    """
    from ..sinks.writers import table_path, upsert

    ev = _event_stream(spark, os.path.join(sf_dir, f"{table}.parquet"))
    _drain(
        spark, _sum_6h(ev.withWatermark("ts", "1 hour")),
        n_state_partitions, checkpoint_dir,
        foreach_batch=lambda batch_df, _: upsert(
            spark, batch_df, base_dir, sink_name, "window_start"
        ),
    )
    return table_path(base_dir, sink_name)


def stream_merge_partitioned(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    table: str = "events",
    sink_name: str = "events_6h_p",
    num_buckets: int = 8,
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> str:
    """``stream_upsert_6h``'s 100 TB variant: the same watermarked 6-hour
    aggregation, but each micro-batch MERGEs through the partition-pruned
    sink (``sinks.writers.partitioned_upsert``) instead of rewriting the
    whole table. A micro-batch re-emits only the window rows the new
    events touched, so the merge rewrites only the key-hash buckets
    containing those windows — O(|batch| + affected buckets) I/O per
    trigger where ``stream_upsert_6h`` pays O(|table|). This is the
    combination a continuously-ingesting 100 TB deployment would run:
    exactly-once micro-batches (checkpointed offsets + idempotent MERGE)
    into a manifest-committed bucketed table that readers see atomically.
    Returns the ptable directory (read via ``read_partitioned``)."""
    from ..sinks.writers import _ptable_dir, partitioned_upsert

    ev = _event_stream(spark, os.path.join(sf_dir, f"{table}.parquet"))
    _drain(
        spark, _sum_6h(ev.withWatermark("ts", "1 hour")),
        n_state_partitions, checkpoint_dir,
        foreach_batch=lambda batch_df, _: partitioned_upsert(
            spark, batch_df, base_dir, sink_name, "window_start",
            num_buckets=num_buckets,
        ),
    )
    return _ptable_dir(base_dir, sink_name)


def stage_doc_batches(
    spark: SparkSession,
    src: DataFrame,
    base_dir: str,
    n_batches: int,
    key_col: str,
    name: str = "ingest",
) -> tuple[DataFrame, str]:
    """Stage ``src`` under ``base_dir/name`` as ``n_batches`` single
    parquet files so AvailableNow + maxFilesPerTrigger=1 delivers a
    deterministic sequence of micro-batches from one immutable source
    (splits by ``key_col`` mod, so the staging is a pure function of the
    corpus), and open that file stream. Its schema is the one Spark
    stored in the staged files' footers (``writers.read_flat``): the
    schema inference would return, without inference's Spark job.
    Returns (stream, stage dir)."""
    from ..sinks.writers import read_flat

    stage = os.path.join(base_dir, name)
    os.makedirs(stage, exist_ok=True)
    for b in range(n_batches):
        _write_one_file(
            src.where(F.col(key_col) % n_batches == b),
            os.path.join(stage, f"batch_{b:03d}.parquet"),
        )
    schema = read_flat(spark, stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return stream, stage


def stream_incremental_dedup(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    table: str = "documents",
    pairs_name: str = "neardup_pairs",
    corpus_name: str = "dedup_corpus",
    n_batches: int = 3,
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    gate_fn=None,
) -> tuple[str, str]:
    """Continuous corpus ingestion with streaming incremental near-dup
    detection — the production shape for a training corpus that grows by
    batches: each micro-batch is deduped against everything ingested so
    far via ``operators.dedup.incremental_minhash_dedup`` (delta-bands ⋈
    corpus-index, never corpus×corpus), then MERGEd into the corpus
    table; discovered pairs MERGE into a pairs table keyed on the pair.

    ``gate_fn`` (DataFrame → DataFrame), when given, filters each
    micro-batch BEFORE dedup and indexing — the hook scored ingestion
    composes its quality/perplexity gates through
    (``stream_scored_ingest``). It must be a PURE per-doc decision
    (deterministic, batch-content-only) so a replayed batch gates
    identically — that is what keeps the idempotent-MERGE replay
    argument intact with a gate in the loop.

    Exactly-once under crash replay WITHOUT relying on foreachBatch
    running once: both writes are idempotent keyed MERGEs, and a replayed
    batch whose docs already reached the corpus recomputes the identical
    pair set — the operator's re-ingest rule (delta supersedes corpus on
    key collision) makes the recompute insensitive to whether the
    previous attempt's corpus merge landed.

    The accumulated pair set after draining equals the FULL-corpus
    ``minhash_lsh_dedup`` pairs, independent of the batch split: any pair
    (x ∈ batch i, y ∈ batch j ≥ i) is emitted when batch j arrives —
    which is what lets the batch oracle check the streaming run. (Caveat
    shared with the operator: the mega-bucket cap is evaluated against
    the corpus-so-far, so a bucket that only crosses the cap at FULL
    corpus size could admit early pairs the batch run refuses — content-
    derived buckets stay far below the cap at every measured scale, and
    the 64× smoke recorded zero capped buckets.)

    Returns (pairs_path, corpus_path)."""
    from ..operators.dedup import incremental_minhash_dedup
    from ..sinks.writers import ensure_table, read_flat, table_path, upsert
    from ..sources.tables import load_table

    docs_stream, _stage = stage_doc_batches(
        spark, load_table(spark, sf_dir, table).select("doc_id", "text"),
        base_dir, n_batches, "doc_id",
    )
    corpus_path = ensure_table(
        spark,
        base_dir,
        corpus_name,
        local_table(spark, [], "doc_id long, text string"),
    )
    pairs_template = local_table(
        spark,
        [], "pk string, id_a long, id_b long, jaccard_sim double"
    )
    ensure_table(spark, base_dir, pairs_name, pairs_template)

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        delta = batch_df.select("doc_id", "text")
        if gate_fn is not None:
            delta = gate_fn(delta)
        corpus = read_flat(spark, corpus_path)
        pairs = incremental_minhash_dedup(corpus, delta, "text", "doc_id")
        out = pairs.select(
            F.concat_ws(
                "|",
                F.col("id_a").cast("string"),
                F.col("id_b").cast("string"),
            ).alias("pk"),
            "id_a",
            "id_b",
            "jaccard_sim",
        )
        upsert(spark, out, base_dir, pairs_name, "pk")
        upsert(spark, delta, base_dir, corpus_name, "doc_id")

    _drain(
        spark, docs_stream, n_state_partitions, checkpoint_dir,
        foreach_batch=merge_batch,
    )
    return table_path(base_dir, pairs_name), corpus_path


# per-stream observability for stream_semantic_dedup: one row per
# micro-batch with the standing index's hottest cluster AFTER that
# batch's merge. Reset at stream start; read by tests/operators — the
# "no silent unbounded growth" surface for the uncapped default.
STREAM_SEM_LAST: dict[str, list] = {"hot_clusters": []}


def stream_semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    table: str = "embeddings",
    verdicts_name: str = "sem_verdicts",
    index_name: str = "sem_index",
    threshold: float = 0.3,
    max_cluster_size: int | None = None,
    n_batches: int = 3,
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    centroids: DataFrame | None = None,
    stream_cluster_cap: int | None = None,
    refused_name: str = "sem_refused",
    src_df: DataFrame | None = None,
) -> tuple[str, str]:
    """Continuous embedding ingestion with streaming SemDeDup — each
    micro-batch is verdict-ed against the corpus-so-far through the
    STORED assignment index (``incremental_semantic_dedup`` with
    ``corpus_index`` + ``emit_corpus_flips``), then its assignment rows
    MERGE into the index and its verdicts (plus any corpus flips it
    caused) MERGE into the verdicts table.

    Why the drained verdicts equal the FULL-corpus ``semantic_dedup``
    for ANY batch split: kept is monotone — a vector's verdict flips
    only 1→0, and only when an EARLIER-(centroid_sim, key)-ordered
    ≥ threshold-similar member exists. If that member arrived in an
    earlier-or-same batch, the vector's own ingest verdict catches it;
    if it arrives LATER, the reverse direction of the same pair probe
    emits the kept=0 flip at that batch. Both writes are idempotent
    keyed MERGEs, so crash replay recomputes identical rows (the
    re-ingest supersede rule keeps the recompute insensitive to whether
    the previous attempt's index merge landed) — the same
    exactly-once-without-coordination argument as
    ``stream_incremental_dedup``.

    ``max_cluster_size`` defaults to **None** (uncapped) here, unlike
    the batch operator's 100k: a cap makes the refusal a function of
    cluster size AT INGEST TIME — a kept=0 verdict MERGEd while its hot
    cluster was still under cap would persist even after the cluster
    crosses the cap, while the full-corpus batch run would refuse the
    now-oversized cluster and report all its members kept=1. Uncapped,
    the two semantics cannot diverge. If you pass a cap, the drained==
    batch equivalence holds only under the precondition that every hot
    cluster stays <= max_cluster_size throughout the stream (and the
    batch comparison uses the same cap).

    ``stream_cluster_cap`` is the STREAMING-SAFE cap that restores the
    loud-refusal contract every other pair generator has, without the
    divergence above: a delta vector whose cluster's STANDING index
    size (the delta's own keys excluded, so the decision is
    replay-invariant) is already ≥ the cap is REFUSED — quarantined
    byte-preserved into ``refused_name`` (the ``gated`` pattern), never
    verdict-ed, never indexed, and NO stored verdict ever flips because
    of a refusal. The drained verdicts then equal the batch run over
    exactly the ACCEPTED subset (pinned by test), and the refusal
    count is surfaced as the quarantine table's row count. Within one
    batch the cluster may overshoot by the batch's own members —
    admission control is per-ingest, the same granularity as the
    MERGEs. A refused vector stays refused (re-admission is a
    re-ingest through the supersede path, an explicit operator
    decision, not an ambient one).

    The DEFAULT (``stream_cluster_cap=None``) stays uncapped — the
    only choice whose drained state cannot diverge from the batch
    operator — but it is no longer SILENT: after every batch's index
    merge, one bounded aggregate (groupBy cluster over the index's key
    column, |centroids| result rows, riding the same per-batch scan
    budget as the flat index MERGE itself) records the hottest
    cluster's (batch_id, cluster_id, size) into
    ``STREAM_SEM_LAST['hot_clusters']`` — the operational surface for
    noticing a cluster running away BEFORE anyone opts into
    ``stream_cluster_cap``. A production loop alerts on that series;
    a ptable index would maintain the sizes additively instead of
    re-aggregating.

    ``src_df`` substitutes the staged corpus (same contract as
    ``stage_doc_batches``); default reads ``table`` from ``sf_dir``.

    Centroids are FROZEN from the staged table up front — the versioned-
    artifact model the ``corpus_index`` contract documents (and the
    condition under which the drained state equals the batch operator,
    whose internal centroid pick over the accumulated corpus is the same
    set).

    Returns (verdicts_path, index_path)."""
    from ..operators.annsearch import ivf_centroids
    from ..operators.dedup import (
        incremental_semantic_dedup,
        semantic_assign,
    )
    from ..sinks.writers import ensure_table, read_flat, table_path, upsert
    from ..sources.tables import load_table

    src = src_df if src_df is not None else load_table(spark, sf_dir, table)
    emb_stream, stage = stage_doc_batches(
        spark, src.select("vec_id", "embedding", "label"),
        base_dir, n_batches, "vec_id",
    )
    # frozen centroid artifact: the full staged corpus's deterministic
    # pick by default; production ingest loops pass the stored
    # ``centroids`` table that the standing corpus_index was built with
    # (the versioned-artifact model — centroids and index must agree)
    from ..functions.similarity import norm2

    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(read_flat(spark, stage))
    )
    if "cent_n" not in cents.columns:
        cents = cents.withColumn("cent_n", norm2(F.col("centroid")))
    cents.persist().count()
    index_path = ensure_table(
        spark,
        base_dir,
        index_name,
        local_table(
            spark,
            [],
            "key long, cluster_id int, centroid_sim double, "
            "v array<double>, nv double",
        ),
    )
    verdicts_path = ensure_table(
        spark,
        base_dir,
        verdicts_name,
        local_table(
            spark,
            [], "vec_id long, cluster_id int, centroid_sim double, kept int"
        ),
    )
    if stream_cluster_cap is not None:
        ensure_table(
            spark, base_dir, refused_name,
            local_table(spark, [], emb_stream.schema),
        )

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        delta = batch_df.select("vec_id", "embedding", "label")
        index = read_flat(spark, index_path)
        if stream_cluster_cap is not None:
            # admission control: clusters already at the cap refuse NEW
            # members. The standing count excludes the delta's own keys
            # so a crash replay (index merge landed, offset didn't)
            # makes the identical decision.
            asg = semantic_assign(delta, cents)
            standing = (
                index.join(
                    F.broadcast(delta.select(F.col("vec_id").alias("key"))),
                    "key",
                    "left_anti",
                )
                .groupBy("cluster_id")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            over = standing.where(
                F.col("n") >= stream_cluster_cap
            ).select("cluster_id")
            refused_keys = (
                asg.join(F.broadcast(over), "cluster_id", "left_semi")
                .select(F.col("key").alias("vec_id"))
            )
            refused_rows = batch_df.join(refused_keys, "vec_id", "left_semi")
            upsert(spark, refused_rows, base_dir, refused_name, "vec_id")
            delta = delta.join(refused_keys, "vec_id", "left_anti")
            delta = delta.localCheckpoint(eager=True)
        out = incremental_semantic_dedup(
            None,
            delta,
            threshold=threshold,
            max_cluster_size=max_cluster_size,
            corpus_index=index,
            centroids=cents,
            emit_corpus_flips=True,
        ).select("vec_id", "cluster_id", "centroid_sim", "kept")
        upsert(spark, out, base_dir, verdicts_name, "vec_id")
        upsert(
            spark,
            semantic_assign(delta, cents),
            base_dir,
            index_name,
            "key",
        )
        # hot-cluster observability (see docstring): one bounded
        # aggregate over the merged index's (key, cluster_id) columns,
        # replay-invariant because the index MERGE is idempotent
        hot = (
            read_flat(spark, index_path)
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("cluster_id"))
            .limit(1)
            .collect()
        )
        if hot:
            STREAM_SEM_LAST["hot_clusters"].append(
                (_batch_id, hot[0]["cluster_id"], hot[0]["n"])
            )

    STREAM_SEM_LAST["hot_clusters"] = []
    _drain(
        spark, emb_stream, n_state_partitions, checkpoint_dir,
        foreach_batch=merge_batch,
    )
    cents.unpersist()
    return table_path(base_dir, verdicts_name), index_path


def stream_scored_ingest(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    lm_buckets: int = 2048,
    head_nll: float = 6.0,
    tail_nll: float = 7.0,
    table: str = "documents",
    n_batches: int = 3,
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[str, str]:
    """SCORED continuous ingestion: every micro-batch passes the
    Gopher-style quality gate and the CCNet perplexity gate (hashed-
    bigram LM over the static English reference; ``tail`` bucket
    dropped) BEFORE it is indexed or deduped — the production shape for
    continuous CURATED corpus growth, composing two independently-green
    pieces (``stream_incremental_dedup`` + the scored-curation gates,
    plans/pipeline.py:q_curation_scored_pipeline stages 1-2).

    Gate determinism ⇒ restart safety: both gates are pure per-doc maps
    (no batch- or order-dependence; the reference model is built from
    the STATIC English subset, not the stream), so a crash-replayed
    batch gates identically and the two idempotent keyed MERGEs behave
    exactly as in the ungated operator. The reference model is built
    once per call (``lm_reference_model``) and every batch is scored
    against it (``lm_score``) — the scoring plan is the batch scorer's.

    Drained-output contract (the oracle): accepted docs = the batch
    gate→ppl composition over the whole table, and the pair table = the
    full-corpus batch LSH over exactly those docs, independent of the
    batch split."""
    from ..operators.textops import lm_reference_model, lm_score, quality_filter
    from ..sources.tables import load_table

    en_ref = load_table(spark, sf_dir, table).where(
        F.col("lang") == "en"
    ).select("doc_id", "text")
    # one reference model per stream: every micro-batch is scored
    # against it and reads its persisted reference aggregate
    lm = lm_reference_model(en_ref, lm_buckets)

    def gate(delta: DataFrame) -> DataFrame:
        qf = quality_filter(delta)
        kept = delta.join(
            qf.where("keep").select("doc_id"), "doc_id", "left_semi"
        )
        # head_nll must sit at or below tail_nll: the bucket CASE tests
        # head first, so a head cut above the tail cut would relabel
        # (tail_nll, head_nll) docs 'head' and sneak them past the gate
        ppl = lm_score(kept, lm, head_nll=head_nll, tail_nll=tail_nll)
        return kept.join(
            ppl.where(F.col("ppl_bucket") != "tail").select("doc_id"),
            "doc_id",
            "left_semi",
        )

    return stream_incremental_dedup(
        spark,
        sf_dir,
        base_dir,
        table=table,
        pairs_name="scored_pairs",
        corpus_name="scored_corpus",
        n_batches=n_batches,
        n_state_partitions=n_state_partitions,
        checkpoint_dir=checkpoint_dir,
        gate_fn=gate,
    )


def stream_media_dedup(
    spark: SparkSession,
    media_df: DataFrame,
    base_dir: str,
    pairs_name: str = "phash_pairs",
    index_name: str = "phash_index",
    n_batches: int = 3,
    radius: int = 7,
    bands: int = 8,
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[str, str]:
    """Continuous MEDIA ingestion with streaming perceptual dedup — the
    streaming member of the perceptual family (the media analog of
    ``stream_incremental_dedup``): each micro-batch of (doc_id, media)
    payloads is pixel-decoded and dHashed, its fingerprints are
    delta-vs-corpus paired against the STORED fingerprint index
    (``operators.dedup.incremental_hamming_pairs``), then both the new
    pairs and the batch's fingerprints MERGE into their tables.

    Drained-output contract (the oracle): the accumulated pair table
    equals the FULL-corpus ``hamming_banded_pairs`` — which provably
    equals the brute-force Hamming spec at radius ≤ bands−1 — whatever
    the batch split: a pair (x ∈ batch i, y ∈ batch j ≥ i) is emitted
    when batch j arrives. Restart safety is the standard argument: the
    hash is a pure per-payload map and both writes are idempotent keyed
    MERGEs, so a crash-replayed batch recomputes identical rows.

    Returns (pairs_path, index_path)."""
    from ..operators.dedup import incremental_hamming_pairs
    from ..operators.multimodal import real_image_dhash
    from ..sinks.writers import ensure_table, read_flat, table_path, upsert

    media_stream, _stage = stage_doc_batches(
        spark, media_df, base_dir, n_batches, "doc_id", "media_ingest"
    )
    index_path = ensure_table(
        spark,
        base_dir,
        index_name,
        local_table(spark, [], "key long, fp string"),
    )
    ensure_table(
        spark,
        base_dir,
        pairs_name,
        local_table(
            spark,
            [], "pk string, id_a long, id_b long, hamming_dist int"
        ),
    )

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        from ..session import ship_package

        ship_package(spark)
        delta_fps = real_image_dhash(batch_df).select(
            "key", F.col("dhash").alias("fp")
        )
        index = read_flat(spark, index_path)
        pairs = incremental_hamming_pairs(
            index, delta_fps, radius=radius, bands=bands
        )
        out = pairs.select(
            F.concat_ws(
                "|",
                F.col("id_a").cast("string"),
                F.col("id_b").cast("string"),
            ).alias("pk"),
            "id_a",
            "id_b",
            F.col("hamming_dist").cast("int").alias("hamming_dist"),
        )
        upsert(spark, out, base_dir, pairs_name, "pk")
        upsert(spark, delta_fps, base_dir, index_name, "key")

    _drain(
        spark, media_stream, n_state_partitions, checkpoint_dir,
        foreach_batch=merge_batch,
    )
    return table_path(base_dir, pairs_name), index_path


def _er_block_memberships(df: DataFrame, bcols: list) -> DataFrame:
    """(p, bk, rec_id, ikey) block-membership rows of a record relation —
    one row per non-null block value per pass; ``ikey`` embeds the
    bucket value first, so the index ptable's bucket_col contract
    (bucket value functionally determined by the merge key) holds by
    construction."""
    arr = F.array(*[F.col(c).cast("string") for c in bcols])
    return (
        df.select(F.col("rec_id"), F.posexplode(arr).alias("p", "bk"))
        .where(F.col("bk").isNotNull())
        .select(
            "p", "bk", "rec_id",
            F.concat_ws(
                "\x1f",
                F.col("bk"),
                F.col("p").cast("string"),
                F.col("rec_id").cast("string"),
            ).alias("ikey"),
        )
    )


def _er_index_tail_dir(base_dir: str, name: str) -> str:
    return os.path.join(base_dir, f"{name}.tail")


def _er_index_tail_write(
    spark: SparkSession, rows: DataFrame, base_dir: str, name: str,
    token: int,
) -> None:
    """Append one TOKEN-NAMED delta-sized file to the index tail — the
    LSM move that keeps per-batch index maintenance O(delta): a bucketed
    MERGE rewrites every affected bucket's full contents (measured 2.4x
    vs 1.7x at the 64x smoke when the per-batch MERGE carried the
    index), while the tail write is exactly the batch's membership
    bytes. Exactly-once per token: a replayed batch finds its file
    already present and skips — no duplicates, no manifest needed."""
    tdir = _er_index_tail_dir(base_dir, name)
    os.makedirs(tdir, exist_ok=True)
    dest = os.path.join(tdir, f"t{token:09d}.parquet")
    if not os.path.exists(dest):
        _write_one_file(rows, dest)


def read_er_block_index(
    spark: SparkSession, base_dir: str, name: str = "er_blockindex",
    bk_probe: DataFrame | None = None,
) -> DataFrame:
    """Current index contents: the bucketed BASE (bucket-pruned to the
    probe's block values when ``bk_probe`` — a one-column ``bk``
    DataFrame — is given) unioned with the un-compacted TAIL files
    (small by construction: ≤ compaction-cadence batches of delta-sized
    memberships, scanned whole). During the compaction crash window a
    membership can appear in both base and tail — consumers take
    ``.distinct()`` over (p, bk, rec_id) exactly as the neighborhood
    probe does, so the duplicate is harmless; the contract is
    dedup-at-read, pinned by test."""
    from ..sinks.writers import read_partitioned, read_partitioned_for_keys

    base = (
        read_partitioned(spark, base_dir, name)
        if bk_probe is None
        else read_partitioned_for_keys(spark, base_dir, name, bk_probe, "bk")
    )
    tdir = _er_index_tail_dir(base_dir, name)
    if os.path.isdir(tdir):
        toks = [
            os.path.join(tdir, f)
            for f in sorted(os.listdir(tdir))
            if f.endswith(".parquet")
        ]
        if toks:
            base = base.unionByName(spark.read.parquet(*toks))
    return base


def compact_er_block_index(
    spark: SparkSession, base_dir: str, name: str = "er_blockindex",
    num_buckets: int = 64, remove_tail: bool = True,
) -> list[str]:
    """Fold the tail into the bucketed base: one MERGE of every tail
    row (idempotent on the embedded composite key), then the folded
    token files are removed. A crash between the MERGE and the removes
    replays as a re-MERGE of identical keys — a no-op — so any crash
    window is clean; mid-compaction readers may see a membership in
    both base and tail, which the dedup-at-read contract absorbs.

    ``remove_tail=False`` runs only the fold and returns the folded
    token paths WITHOUT unlinking them — the background-compaction
    split (guide §2.6): the fold (the expensive Spark MERGE) can run
    concurrently with subsequent ingests because it only ADDS the
    tail's rows to the base (dup-at-read tolerated), while the unlinks
    — the one step that could yank a file out from under an in-flight
    lazy plan — are deferred to a batch boundary, where no plan exists
    yet. Returns the folded token paths (empty when nothing to fold)."""
    from ..sinks.writers import partitioned_upsert

    tdir = _er_index_tail_dir(base_dir, name)
    if not os.path.isdir(tdir):
        return []
    toks = [
        os.path.join(tdir, f)
        for f in sorted(os.listdir(tdir))
        if f.endswith(".parquet")
    ]
    if not toks:
        return []
    partitioned_upsert(
        spark, spark.read.parquet(*toks), base_dir, name, "ikey",
        num_buckets=num_buckets, bucket_col="bk",
    )
    if remove_tail:
        for t in toks:
            try:
                os.remove(t)
            except OSError:
                pass
    return toks


def build_er_block_index(
    spark: SparkSession,
    records: DataFrame,
    base_dir: str,
    block_col="block_key",
    num_buckets: int = 64,
    name: str = "er_blockindex",
) -> str:
    """Bootstrap/backfill the secondary block index
    ``stream_entity_resolution(block_index_buckets=...)`` maintains
    incrementally: one scan of the record relation → membership rows →
    one bucket_col-co-located MERGE. Required whenever the record table
    was seeded OUTSIDE the stream loop (migration onto the indexed
    path), and doubles as the self-heal if an index is ever suspected
    incomplete — the MERGE is idempotent on the embedded composite key,
    so re-running it over the full record table repairs any hole
    without disturbing valid rows. Cost is O(|records|) — a bootstrap
    price, paid once, not per ingest."""
    from ..operators.entity import _block_cols
    from ..sinks.writers import partitioned_upsert

    rows = _er_block_memberships(records, _block_cols(block_col))
    return partitioned_upsert(
        spark, rows, base_dir, name, "ikey",
        num_buckets=num_buckets, bucket_col="bk",
    )


def stream_entity_resolution(
    spark: SparkSession,
    records_df: DataFrame,
    base_dir: str,
    asg_name: str = "er_assignment",
    rec_name: str = "er_records",
    n_batches: int = 3,
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    golden_rules: dict[str, str] | None = None,
    golden_name: str = "er_golden",
    golden_num_buckets: int = 16,
    block_col="block_key",
    full_sweep_every: int = 16,
    state_num_buckets: int | None = None,
    state_auto_threshold: int | None = None,
    block_index_buckets: int | None = None,
    blockindex_name: str = "er_blockindex",
    index_compact_every: int = 16,
) -> tuple[str, str | None]:
    """Continuous record ingestion with streaming entity resolution —
    the streaming member of the ER family (batch ``resolve_entities`` →
    incremental ``incremental_resolve_entities`` → this): each
    micro-batch of records is resolved delta-vs-corpus against the
    STORED assignment table, then the changed assignment rows and the
    batch's records MERGE into their tables.

    Drained-state contract (the oracle): the assignment table equals
    the full-batch ``resolve_entities`` over all records, for ANY batch
    split — ``incremental_resolve_entities`` returns the full-batch
    assignment each ingest (merges included: a record arriving in batch
    j that bridges two entities resolved in batches < j re-labels the
    merged component, and the changed-row MERGE propagates exactly that
    re-labelling), so the stored table is always the batch answer for
    the corpus-so-far.

    Replay safety hinges on MERGE ORDER — assignment FIRST, records
    second: a batch's keys are anti-joined against the stored records
    before resolving, so a crash between the two MERGEs replays as
    (fresh delta still absent from the record table) → identical
    recompute → idempotent re-MERGE, while the reverse order would
    replay the batch as an empty delta against a record table that
    already contains it, leaving its rows assigned as singletons. The
    stored assignment side is insensitive to that half-done state: its
    extra delta star edges are a subset of the true final component, so
    components and labels are unchanged.

    With ``golden_rules``, a MATERIALIZED GOLDEN DIMENSION is maintained
    next to the assignment (the CRM-serving table the reference's user
    MERGE approximates): each batch recomputes golden rows for the
    touched entities (their member records are exactly the recomputed
    assignment rows) and MERGEs them by entity_id — and because an
    entity that merges INTO another must DISAPPEAR from the dimension,
    each batch also runs a stale sweep: golden keys that are no longer
    any record's entity_id are MERGE-DELETEd. The golden dimension is a
    BUCKETED ptable (``partitioned_upsert`` / ``partitioned_delete_keys``
    over ``golden_num_buckets`` key-hash buckets): both the MERGE and
    the sweep rewrite only the buckets their keys land in, so the
    per-batch dimension cost is O(|touched entities| + affected
    buckets), not a full-table rewrite — the 10⁹-entity version of this
    loop is the same code with more buckets.

    The stale sweep is DELTA-DERIVED (round 11 — the round-10 version
    scanned the standing dimension per batch, the residual linear term
    in incgold's 2.2x 64x row): an entity disappears from the dimension
    exactly when it was a label before the batch and is not one after,
    and because ``changed`` carries EVERY member of every touched
    component, that set is ``old_labels(changed) ∖ new_labels(changed)``
    — pure delta-neighborhood arithmetic, no golden-key scan, no
    live-label distinct (old labels come from one broadcast keys-probe
    of the stored assignment, the move a ptable assignment would
    bucket-prune). This is exact in normal operation, but NOT under one
    documented crash window: a crash between the assignment MERGE and
    the sweep replays the batch against an assignment that already
    carries the new labels, the old∖new difference comes back empty,
    and the stale golden row leaks. The backstop is the round-10
    STATE-BASED sweep (golden keys ∖ live labels — a pure function of
    current state, removes any leaked row whenever it runs) on a
    compaction-style cadence: every ``full_sweep_every``-th batch
    (default 16; ``0`` disables it — only for tests that pin the
    leak window). The ptable's manifest flip is ``os.replace`` —
    atomic; the golden ptable is seeded with an empty committed
    manifest up front, so the sweep's read-back (and
    ``read_partitioned`` by any consumer) works even when the first
    golden set is empty.

    ``state_num_buckets`` switches the RECORD and ASSIGNMENT tables to
    bucketed ptables too (the golden dimension already is one): the
    flat path's per-batch `upsert` is a FULL-table rewrite — linear in
    standing-corpus bytes, the dominant term in the incgold 64× row
    once the sweep went delta-derived — while the ptable MERGEs rewrite
    O(|batch| + affected buckets), the fresh-key anti-join probes only
    the batch's buckets (``read_partitioned_for_keys``), and the
    delta sweep's old-label probe is bucket-pruned the same way. The
    full reads that remain (the ER operator's corpus/assignment inputs)
    are lazy manifest-resolved scans the operator itself prunes with
    its block semi-joins. Returned paths are then ptable dirs.

    ``state_auto_threshold`` picks the state layout AT THE MEASURED
    CROSSOVER instead of statically: the stream starts (or resumes) on
    whatever layout the state directory already holds — flat when
    neither table has a committed ptable manifest — and, before a
    batch, if the layout is still flat and the standing record count
    (a parquet-FOOTER metadata read, no Spark job) has reached the
    threshold, both state tables are migrated to bucketed ptables of
    ``state_num_buckets`` (default 64) buckets in one O(table) step and
    every later batch runs the bucketed path. Crash-clean: the mode
    test requires BOTH manifests (a crash between the two ptable
    publishes resumes flat and re-migrates idempotently — the MERGEs
    key on rec_id), and the flat dirs are removed only after both
    commits (leftovers are swept at resume). Threshold guidance from
    the streaming smoke on this host (single pointy ingest walls):
    flat 6.7 s at 1x / 10.0 s at 16x / 18.1 s at 64x (1.76 M standing
    records) vs bucketed 18-19 s at 1x-16x and ~49 s at 64x — at these
    sizes the bucketed path is dominated by many-small-file state
    reads and manifest machinery, so the absolute crossover sits
    BEYOND the smoke's range and the threshold is strictly a
    deployment knob: set it where a full-table rewrite per ingest
    stops fitting the ingest budget (the asymptotic O(delta +
    affected buckets) vs O(table) argument at real dimension scale —
    e.g. standing bytes >> executor memory), not from this host's
    curve. Below it the flat default is preserved. Incompatible with
    ``block_index_buckets`` (the secondary index requires bucketed
    state from the first batch; bootstrap at migration is a
    documented follow-up).

    ``block_index_buckets`` (requires ``state_num_buckets``) removes the
    records-side standing scan entirely with a SECONDARY BLOCK INDEX —
    a ptable of (pass, block value, rec_id) memberships bucketed by
    BLOCK VALUE (``bucket_col`` co-location) and MERGE-keyed by the
    embedded composite (memberships of an immutable record never
    change, so the index is append-shaped and replay-idempotent). The
    index is LSM-shaped: each batch appends a token-named delta-sized
    TAIL file (a per-batch bucketed MERGE rewrites every affected
    bucket's full contents — measured 2.4x vs 1.7x at the 64x smoke —
    while the tail write is exactly the batch's membership bytes), and
    every ``index_compact_every``-th batch folds the tail into the
    bucketed base IN A BACKGROUND THREAD off the ingest critical path
    (guide §2.6): the fold is idempotent on the composite key (the
    compaction crash window replays cleanly; mid-compaction readers may
    see a membership twice — dedup-at-read, the neighborhood probe's
    ``.distinct()``), and the folded tail tokens are unlinked only at a
    later batch boundary or at stream end, so no in-flight lazy plan
    can lose a file. One fold runs at a time; a fold error surfaces at
    the next sync point. Each ingest then (1) reads the index base buckets
    the batch's block values hash to plus the small tail, (2) resolves
    the delta-neighborhood rec_ids, (3) reads only THOSE records'
    buckets, and passes that neighborhood as the operator's corpus —
    block probes, feature projection, and the block-size guard all see
    exactly the records the full-corpus scan would have kept (the
    index is complete for every stored record), so results are
    bit-identical while scan I/O per ingest is O(delta neighborhood +
    pruned index slice) instead of O(standing corpus). The tail write
    runs FIRST in the batch: a crash window can only leave the index a
    SUPERSET of the record table (extra probe keys — harmless), never
    a hole (a missed membership would silently drop true pairs
    forever). Pruning pays when the delta's block-value footprint is
    small against the bucket count (point-y ingests on a key whose
    cardinality grows with the data); a delta inhabiting every block —
    the smoke's 25-block stress fixture — degrades the base probe to a
    narrow full-index read, which is the same cost shape as the
    un-indexed narrow corpus scan, not worse. The residual standing
    terms are the ASSIGNMENT-side narrow scans (touched-component
    expansion needs entity→members, an access path the rec_id-keyed
    ptable cannot prune).

    Returns (assignment path, golden ptable dir or None — read it back
    with ``writers.read_partitioned``).
    """
    from ..operators.entity import _block_cols, golden_records, incremental_resolve_entities
    from ..sinks.writers import (
        ensure_partitioned,
        ensure_table,
        partitioned_delete_keys,
        partitioned_upsert,
        read_flat,
        read_partitioned,
        read_partitioned_for_keys,
        table_path,
        upsert,
    )

    if block_index_buckets is not None and state_num_buckets is None:
        raise ValueError(
            "block_index_buckets needs state_num_buckets: the index "
            "resolves neighborhood rec_ids, and only a bucketed record "
            "ptable can turn those into a pruned read — against a flat "
            "record table the probe still scans every file"
        )
    if state_auto_threshold is not None and block_index_buckets is not None:
        raise ValueError(
            "state_auto_threshold is incompatible with "
            "block_index_buckets: the secondary index requires bucketed "
            "state from the first batch (index bootstrap at migration "
            "is a documented follow-up)"
        )
    bcols = _block_cols(block_col)

    def _idx_rows(df: DataFrame) -> DataFrame:
        return _er_block_memberships(df, bcols)

    rec_stream, _stage = stage_doc_batches(
        spark, records_df, base_dir, n_batches, "rec_id", "er_ingest"
    )
    src_schema = rec_stream.schema
    asg_schema = "rec_id long, entity_id long, n_records long"
    # mutable state-layout mode: {"buckets": None} = flat tables,
    # {"buckets": N} = bucketed ptables. Static unless
    # state_auto_threshold enables the mid-stream migration.
    _flat_rec, _flat_asg = (
        table_path(base_dir, rec_name), table_path(base_dir, asg_name)
    )
    _pt_rec = os.path.join(base_dir, f"{rec_name}.ptable")
    _pt_asg = os.path.join(base_dir, f"{asg_name}.ptable")
    auto_buckets = state_num_buckets or 64

    def _ptable_state_committed() -> bool:
        # BOTH manifests must exist: a crash between the two migration
        # publishes must resume FLAT and re-migrate (idempotent MERGEs)
        return os.path.exists(
            os.path.join(_pt_rec, "_MANIFEST")
        ) and os.path.exists(os.path.join(_pt_asg, "_MANIFEST"))

    if state_auto_threshold is not None:
        if _ptable_state_committed():
            mode = {"buckets": auto_buckets}
            # sweep flat leftovers of a crash-after-commit window
            shutil.rmtree(_flat_rec, ignore_errors=True)
            shutil.rmtree(_flat_asg, ignore_errors=True)
        else:
            mode = {"buckets": None}
    else:
        mode = {"buckets": state_num_buckets}
    if mode["buckets"] is None:
        ensure_table(
            spark, base_dir, rec_name, local_table(spark, [], src_schema)
        )
        ensure_table(
            spark, base_dir, asg_name, local_table(spark, [], asg_schema)
        )
    else:
        ensure_partitioned(
            spark, base_dir, rec_name,
            local_table(spark, [], src_schema),
            num_buckets=mode["buckets"],
        )
        ensure_partitioned(
            spark, base_dir, asg_name,
            local_table(spark, [], asg_schema),
            num_buckets=mode["buckets"],
        )

    def _flat_row_count(path: str) -> int:
        """Standing row count from the parquet FOOTERS — driver-side
        metadata, no Spark job (the migration check must not tax the
        flat path it exists to protect)."""
        import pyarrow.parquet as pq

        total = 0
        for f in os.listdir(path):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += pq.ParquetFile(
                    os.path.join(path, f)
                ).metadata.num_rows
        return total

    def _maybe_migrate_state() -> None:
        """Flat → ptable migration at the threshold: one O(table) step,
        crash-clean (see docstring), after which every batch runs the
        bucketed path."""
        if state_auto_threshold is None or mode["buckets"] is not None:
            return
        if _flat_row_count(_flat_rec) < state_auto_threshold:
            return
        recs = read_flat(spark, _flat_rec)
        asgd = read_flat(spark, _flat_asg)
        partitioned_upsert(
            spark, recs, base_dir, rec_name, "rec_id",
            num_buckets=auto_buckets,
        )
        partitioned_upsert(
            spark, asgd, base_dir, asg_name, "rec_id",
            num_buckets=auto_buckets,
        )
        mode["buckets"] = auto_buckets
        # drop the flat dirs only after BOTH ptables committed; both
        # upserts above are materialized, so no lazy plan references
        # the flat files
        shutil.rmtree(_flat_rec, ignore_errors=True)
        shutil.rmtree(_flat_asg, ignore_errors=True)
    golden_path = None
    if golden_rules:
        # seed the golden ptable with an empty committed manifest (the
        # schema comes from the lazy golden_records plan over empty
        # inputs — no job runs): an empty first golden set must not
        # leave the dimension unreadable for the sweep or any consumer
        g_template = golden_records(
            local_table(spark, [], src_schema),
            local_table(
                spark,
                [], "rec_id long, entity_id long, n_records long"
            ),
            rules=golden_rules,
        )
        golden_path = ensure_partitioned(
            spark, base_dir, golden_name, g_template,
            num_buckets=golden_num_buckets,
        )
    if block_index_buckets is not None:
        ensure_partitioned(
            spark, base_dir, blockindex_name,
            local_table(
                spark,
                [], "p int, bk string, rec_id long, ikey string"
            ),
            num_buckets=block_index_buckets,
            bucket_col="bk",
        )

    # background index compaction (guide §2.6): the fold — a full ptable
    # MERGE, the expensive part — runs in a thread OFF the ingest
    # critical path; only the folded tokens' unlinks are deferred to the
    # next batch BOUNDARY (before any lazy plan exists that could
    # reference them). The tail-first crash contract is unchanged: at
    # every instant the index (base ∪ tail) is a superset of the record
    # table, and a fold that crashes or races a reader at worst shows a
    # membership twice — the dedup-at-read contract. A fold error is
    # re-raised at the next sync point (batch boundary or stream end),
    # matching the inline behavior's failure visibility.
    import threading as _threading

    from pyspark import inheritable_thread_target

    _compaction: dict = {"thread": None, "folded": [], "error": None}

    def _reap_compaction(wait: bool) -> None:
        t = _compaction["thread"]
        if t is None:
            return
        if not wait and t.is_alive():
            return
        t.join()
        _compaction["thread"] = None
        if _compaction["error"] is not None:
            err, _compaction["error"] = _compaction["error"], None
            raise err
        for p in _compaction["folded"]:
            try:
                os.remove(p)
            except OSError:
                pass
        _compaction["folded"] = []

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        _maybe_migrate_state()
        if mode["buckets"] is None:
            corpus = read_flat(spark, _flat_rec)
            asg = read_flat(spark, _flat_asg)
            corpus_keys = corpus.select("rec_id")
        else:
            # batch boundary: settle a finished background fold (delete
            # its folded tail tokens) before any plan references the tail
            _reap_compaction(wait=False)
            asg = read_partitioned(spark, base_dir, asg_name)
            # the fresh-key probe touches only the batch's buckets
            corpus_keys = read_partitioned_for_keys(
                spark, base_dir, rec_name,
                batch_df.select("rec_id"), "rec_id",
            ).select("rec_id")
            if block_index_buckets is None:
                corpus = read_partitioned(spark, base_dir, rec_name)
            else:
                # index TAIL write first: any crash window leaves the
                # index a SUPERSET of the record table (extra probe keys
                # are harmless; a hole would drop true pairs forever) —
                # the token-named file makes the replay an exact no-op.
                # A tail APPEND, not a bucketed MERGE: the MERGE rewrote
                # every affected bucket's full contents per batch (the
                # 64x smoke measured that write amplification at 2.4x vs
                # the un-indexed ptable path's 1.7x), while the tail
                # write is exactly the batch's membership bytes;
                # compaction folds the tail in on a cadence below.
                _er_index_tail_write(
                    spark, _idx_rows(batch_df), base_dir, blockindex_name,
                    _batch_id,
                )
                # delta-neighborhood corpus: index base buckets for the
                # batch's block values (+ the small tail) → (pass,
                # value)-exact rec_ids → those records' buckets — scan
                # I/O tracks the delta's neighborhood plus the index's
                # narrow pruned slice, not the standing corpus
                dmem = (
                    _idx_rows(batch_df).select("p", "bk").distinct()
                    .localCheckpoint(eager=True)
                )
                neigh_ids = (
                    read_er_block_index(
                        spark, base_dir, blockindex_name,
                        bk_probe=dmem.select("bk"),
                    )
                    .join(F.broadcast(dmem), ["p", "bk"])
                    .select("rec_id")
                    .distinct()
                )
                corpus = read_partitioned_for_keys(
                    spark, base_dir, rec_name, neigh_ids, "rec_id"
                )
        fresh = batch_df.join(corpus_keys, "rec_id", "left_anti")
        # emit='changed': only the recomputed (delta ∪ touched) rows —
        # MERGEing them over the stored table IS the full assignment,
        # and the per-batch cost tracks the delta's neighborhood, not
        # the standing corpus
        # check_overlap=False: `fresh` is already anti-joined against
        # the record table above, so the operator's own overlap probe
        # would be a redundant second corpus-key scan per batch
        # block_col passes through — multi-pass blocking works in the
        # streaming loop too (a list unions the per-pass candidates)
        changed = incremental_resolve_entities(
            corpus, fresh, corpus_assignment=asg, emit="changed",
            check_overlap=False, block_col=block_col,
        )
        changed = changed.localCheckpoint(eager=True)
        if golden_rules:
            # PRE-merge labels of the recomputed rows — one broadcast
            # keys-probe of the stored assignment (bucket-PRUNED in
            # ptable mode), materialized BEFORE the assignment MERGE
            # swaps the files the lazy plan would read
            old_src = (
                asg
                if mode["buckets"] is None
                else read_partitioned_for_keys(
                    spark, base_dir, asg_name,
                    changed.select("rec_id"), "rec_id",
                )
            )
            old_labels = (
                old_src.join(F.broadcast(changed.select("rec_id")), "rec_id")
                .select("entity_id")
                .distinct()
                .localCheckpoint(eager=True)
            )
        if mode["buckets"] is None:
            upsert(spark, changed, base_dir, asg_name, "rec_id")
        else:
            partitioned_upsert(
                spark, changed, base_dir, asg_name, "rec_id",
                num_buckets=mode["buckets"],
            )
        if golden_rules:
            # golden rows for the touched entities: `changed` carries
            # exactly their member records (delta ∪ touched components);
            # in ptable mode the record probe reads only the changed
            # keys' buckets instead of scanning the standing corpus
            member_src = (
                corpus
                if mode["buckets"] is None
                else read_partitioned_for_keys(
                    spark, base_dir, rec_name,
                    changed.select("rec_id"), "rec_id",
                )
            )
            members = member_src.unionByName(fresh).join(
                F.broadcast(changed.select("rec_id")), "rec_id"
            )
            g = golden_records(members, changed, rules=golden_rules)
            partitioned_upsert(
                spark, g, base_dir, golden_name, "entity_id",
                num_buckets=golden_num_buckets,
            )
            # DELTA-DERIVED stale sweep: `changed` carries every member
            # of every touched component, so an entity vanishes exactly
            # when it is in old_labels but not in changed's new labels
            # — delta-neighborhood arithmetic, no standing-state scan.
            # Exact in normal operation; leaks only under the
            # crash-between-assignment-MERGE-and-sweep replay (old
            # labels already overwritten), which the periodic full
            # sweep below self-heals. Bucket-pruned delete either way.
            stale = old_labels.join(
                changed.select("entity_id").distinct(),
                "entity_id",
                "left_anti",
            )
            partitioned_delete_keys(
                spark, stale, base_dir, golden_name, "entity_id"
            )
            if full_sweep_every and (_batch_id + 1) % full_sweep_every == 0:
                # compaction-style backstop: golden keys ∖ live labels
                # — a pure function of current state, removes any row a
                # crash-replay window leaked past the delta sweep
                live_src = (
                    read_flat(spark, _flat_asg)
                    if mode["buckets"] is None
                    else read_partitioned(spark, base_dir, asg_name)
                )
                live = live_src.select(F.col("entity_id")).distinct()
                stale_full = (
                    read_partitioned(spark, base_dir, golden_name)
                    .select("entity_id")
                    .join(live, "entity_id", "left_anti")
                )
                partitioned_delete_keys(
                    spark, stale_full, base_dir, golden_name, "entity_id"
                )
        if mode["buckets"] is None:
            upsert(spark, fresh, base_dir, rec_name, "rec_id")
        else:
            partitioned_upsert(
                spark, fresh, base_dir, rec_name, "rec_id",
                num_buckets=mode["buckets"],
            )
        if block_index_buckets is not None and index_compact_every and (
            _batch_id + 1
        ) % index_compact_every == 0:
            # compaction triggers LAST in the batch: every plan that
            # lazily referenced a tail file (the neighborhood corpus
            # feeding `changed`) has been materialized by now. The FOLD
            # runs in a background thread and overlaps the NEXT
            # ingest(s); it never unlinks — the folded tokens are
            # removed at a later batch boundary (or stream end) by
            # _reap_compaction, so no in-flight lazy plan can lose a
            # file (the bug the first inline placement had — compact
            # before the eager checkpoint, FAILED_READ_FILE downstream).
            _reap_compaction(wait=True)  # one fold in flight at a time

            def _fold() -> None:
                try:
                    _compaction["folded"] = compact_er_block_index(
                        spark, base_dir, blockindex_name,
                        num_buckets=block_index_buckets,
                        remove_tail=False,
                    )
                except BaseException as e:  # surfaced at next sync point
                    _compaction["error"] = e

            # the fold's jobs carry the stream's job group/description
            t = _threading.Thread(
                target=inheritable_thread_target(spark)(_fold), daemon=True
            )
            t.start()
            _compaction["thread"] = t

    # settle any in-flight background fold before returning, on success
    # AND on failure: the caller may read, compact or delete the table
    # next, and the stream's state must be deterministic at return. A
    # fold error pending behind a stream error is chained onto it.
    try:
        _drain(
            spark, rec_stream, n_state_partitions, checkpoint_dir,
            foreach_batch=merge_batch,
        )
    except BaseException as stream_err:
        try:
            _reap_compaction(wait=True)
        except BaseException as fold_err:
            raise stream_err from fold_err
        raise
    _reap_compaction(wait=True)
    return (
        _pt_asg if mode["buckets"] is not None else _flat_asg
    ), golden_path


def stream_gated_ingest(
    spark: SparkSession,
    docs_df: DataFrame,
    base_dir: str,
    expectations: list[tuple],
    kept_name: str = "gated_kept",
    quarantine_name: str = "gated_quarantine",
    n_batches: int = 3,
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    key_col: str = "doc_id",
    num_buckets: int | None = None,
) -> tuple[str, str]:
    """Expectation-gated continuous ingestion with a quarantine
    (dead-letter) table — the Delta-Live-Tables ``expect_all`` shape:
    each micro-batch runs the declarative quality gate
    (``aggregations.validate_expectations``, one fused-agg scan of the
    batch); a batch with ANY failing check MERGEs into the quarantine
    table instead of the main one, so a bad load never reaches
    consumers and is preserved byte-for-byte for triage (the
    alternative — dropping or crashing — either loses the evidence or
    stops the pipeline for data the upstream will keep sending).

    Replay safety: the gate is a pure function of the batch (no state),
    both destinations are idempotent keyed MERGEs, and a batch goes to
    exactly one table — a crash-replayed batch re-gates identically.
    The per-batch verdict read is bounded (#expectations rows), the
    same driver-action budget every streaming member here has.

    Drained contract (the oracle): kept = the union of batches whose
    gate passes, quarantine = the rest — a pure function of the batch
    split, mirrored per-batch in SQL.

    ``key_col`` is the upsert/batch-split key — any keyed corpus gates
    through here, not just document tables (the generic signature was a
    lie while 'doc_id' was hardcoded).

    ``num_buckets`` switches both destinations to BUCKETED ptables
    (``partitioned_upsert``): the flat MERGE rewrites the whole kept
    table per batch — linear in the standing corpus, measured in the
    64× smoke — while the ptable rewrite is O(|batch| + affected
    buckets). Returned paths are then ptable dirs (read back with
    ``writers.read_partitioned``).

    Returns (kept_path, quarantine_path)."""
    from ..operators.aggregations import validate_expectations
    from ..sinks.writers import (
        ensure_partitioned,
        ensure_table,
        partitioned_upsert,
        upsert,
    )

    docs_stream, _stage = stage_doc_batches(
        spark, docs_df, base_dir, n_batches, key_col, "gated_ingest"
    )
    src_schema = docs_stream.schema
    if num_buckets is None:
        kept_path = ensure_table(
            spark, base_dir, kept_name, local_table(spark, [], src_schema)
        )
        quarantine_path = ensure_table(
            spark,
            base_dir,
            quarantine_name,
            local_table(spark, [], src_schema),
        )
    else:
        # seed BOTH destinations with an empty committed manifest: a
        # destination that never receives a batch (e.g. every batch
        # passes, so the quarantine is never written) must still read
        # back as an empty table via read_partitioned — the same
        # guarantee ensure_table gives the flat path
        template = local_table(spark, [], src_schema)
        kept_path = ensure_partitioned(
            spark, base_dir, kept_name, template, num_buckets=num_buckets
        )
        quarantine_path = ensure_partitioned(
            spark, base_dir, quarantine_name, template,
            num_buckets=num_buckets,
        )

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        report = validate_expectations(batch_df, expectations).collect()
        ok = all(r["passed"] for r in report)
        dest = kept_name if ok else quarantine_name
        if num_buckets is None:
            upsert(spark, batch_df, base_dir, dest, key_col)
        else:
            partitioned_upsert(
                spark, batch_df, base_dir, dest, key_col,
                num_buckets=num_buckets,
            )

    _drain(
        spark, docs_stream, n_state_partitions, checkpoint_dir,
        foreach_batch=merge_batch,
    )
    return kept_path, quarantine_path


def stream_hypertable_rollup(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    table: str = "events",
    partials_name: str = "cagg_partials",
    n_batches: int = 3,
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> str:
    """Streaming continuous-aggregate maintenance — the incremental
    refresh behind ``aggregations.hypertable_rollup`` (TimescaleDB's
    cagg + real-time-view pattern): each micro-batch folds to hourly
    partial aggregates that MERGE into a partials table; the live
    rollup is the read-time sum of partials fed through
    ``hypertable_rollup_from_hourly``.

    Exactly-once needs care here that the dedup streams don't: their
    MERGEs are idempotent because the VALUES are replay-invariant, but
    an additive update (``total += batch_sum``) double-counts on crash
    replay. So partials are keyed by (batch_id, hour bucket): a replayed
    batch recomputes the IDENTICAL partial rows (the aggregate is a pure
    function of the batch's files) and the keyed MERGE overwrites them —
    additivity moves to read time, where summing partials twice is
    impossible. Compaction may fold partials of retired batches into one
    row per bucket without changing any sum (decimal addition is
    associative) — the cagg-materialization step, not done here.

    Why drained == batch ``hypertable_rollup`` for ANY split: hourly
    count/decimal-sum are associative-commutative over disjoint batches,
    and the coarser levels re-aggregate from the reconstructed hourly
    relation with the exact arithmetic shared via
    ``hypertable_rollup_from_hourly``. Returns the partials path."""
    from ..sinks.writers import ensure_table, table_path, upsert
    from ..sources.tables import load_table

    ev_stream, _stage = stage_doc_batches(
        spark,
        load_table(spark, sf_dir, table).select("event_id", "ts", "value"),
        base_dir, n_batches, "event_id",
    )
    partials_path = ensure_table(
        spark,
        base_dir,
        partials_name,
        local_table(
            spark,
            [],
            "pk string, bucket_ts timestamp, n_events long, "
            "total decimal(22,2)",
        ),
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = (
            batch_df.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast(MONEY))
                .cast("decimal(22,2)")
                .alias("total"),
            )
            .select(
                F.concat_ws(
                    "|",
                    F.lit(batch_id).cast("string"),
                    F.col("bucket_ts").cast("long").cast("string"),
                ).alias("pk"),
                "bucket_ts",
                "n_events",
                "total",
            )
        )
        upsert(spark, part, base_dir, partials_name, "pk")

    _drain(
        spark, ev_stream, n_state_partitions, checkpoint_dir,
        foreach_batch=merge_batch,
    )
    return table_path(base_dir, partials_name)


def stream_ann_ingest(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    table: str = "embeddings",
    index_name: str = "ann_ivf_index",
    n_batches: int = 3,
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    centroids: DataFrame | None = None,
):
    """Continuous ANN index maintenance: embedding micro-batches are
    assigned to their nearest FROZEN centroid
    (operators/annsearch.py:assign_nearest — a pure per-vector map of
    the versioned centroid artifact) and MERGEd into a stored IVF
    posting-list table keyed by vec_id. Query time reads the index with
    ``ivf_topk(..., corpus_preassigned=True)`` — no assignment scan.

    Exactly-once is the simplest in the streaming family: assignment
    depends on nothing but the vector and the frozen artifact, so a
    replayed batch recomputes identical rows and the keyed MERGE is
    idempotent; there is no cross-batch evidence at all (unlike the
    dedup streams' corpus probes). Consequently drained-index top-k ==
    batch ``ivf_topk`` with the same centroids, for ANY batch split —
    the stored cluster_id IS assign_nearest's output.

    Returns (index_path, centroids)."""
    from ..operators.annsearch import assign_nearest, ivf_centroids
    from ..sinks.writers import ensure_table, read_flat, table_path, upsert
    from ..sources.tables import load_table

    emb_stream, stage = stage_doc_batches(
        spark,
        load_table(spark, sf_dir, table).select("vec_id", "embedding", "label"),
        base_dir, n_batches, "vec_id",
    )
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(read_flat(spark, stage))
    )
    cents.persist().count()
    index_path = ensure_table(
        spark,
        base_dir,
        index_name,
        local_table(
            spark,
            [], "vec_id long, cluster_id int, cv array<double>"
        ),
    )

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        asg = assign_nearest(
            batch_df.select("vec_id", "embedding"), cents
        ).select(
            "vec_id", F.col("cluster_id").cast("int").alias("cluster_id"), "cv"
        )
        upsert(spark, asg, base_dir, index_name, "vec_id")

    _drain(
        spark, emb_stream, n_state_partitions, checkpoint_dir,
        foreach_batch=merge_batch,
    )
    return table_path(base_dir, index_name), cents


def stream_dedup_6h(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events",
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming ingestion dedup: ``dropDuplicatesWithinWatermark`` on the
    event key, then the 6-hour windowed aggregation — the exactly-once
    ingestion guard a training-data pipeline needs when the upstream
    source redelivers (at-least-once feeds, replayed batches).

    The check is made non-vacuous by feeding every event TWICE (the
    source directory exposes the same parquet under two names): state
    keeps one row per event_id within the watermark, so the window counts
    must equal the single-copy batch result — a doubled count means the
    dedup silently broke. State is bounded: keys older than the watermark
    are dropped, so at 100 TB the state store holds one watermark-width
    of keys, not the stream's history.
    """
    path = os.path.join(sf_dir, f"{table}.parquet")
    ev = _event_stream(spark, path, duplicate=True)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _drain(
        spark, _sum_6h(deduped), n_state_partitions, checkpoint_dir, "complete"
    )


def session_windows(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
) -> DataFrame:
    """Session windows per key: events closer than ``gap`` merge; the
    window ends ``gap`` after the last event. Works identically in batch
    and streaming (F.session_window is a Catalyst aggregation)."""
    return (
        df.groupBy(key_col, F.session_window(ts_col, gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_join_30m(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events",
    n_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Watermarked stream-stream inner join: events split by id parity
    into a trades stream (odd) and a quotes stream (even); each trade
    matches same-user quotes from the preceding 30 minutes. Both sides
    carry a 1-hour watermark and the join condition bounds event-time
    distance, so each side's state holds ≤ watermark+band of rows and is
    evicted as the watermark advances — the only way a stream-stream
    join survives unbounded input. INNER join results emit as soon as
    both rows arrive (no watermark holdback — that's for outer sides),
    so the drained AvailableNow result equals the exact batch join and
    the oracle needs no cutoff. Returns the per-user aggregate of the
    matched pairs (the row-level matches land in the memory sink; the
    aggregation is a batch query over it)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    trades = (
        _event_stream(spark, path)
        .where(F.col("event_id") % 2 == 1)
        .withWatermark("ts", "1 hour")
    )
    quotes = (
        _event_stream(spark, path)
        .where(F.col("event_id") % 2 == 0)
        .select(
            F.col("user_id").alias("q_user"),
            F.col("ts").alias("q_ts"),
            F.col("value").alias("q_value"),
        )
        .withWatermark("q_ts", "1 hour")
    )
    joined = trades.join(
        quotes,
        (F.col("user_id") == F.col("q_user"))
        & (F.col("q_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("q_ts") <= F.col("ts")),
        "inner",
    ).select("user_id", "value", "q_value")
    return (
        _drain(spark, joined, n_state_partitions, checkpoint_dir, "append")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum(F.col("q_value").cast(MONEY)), 2)
            .cast("double")
            .alias("total_quote_value"),
        )
    )
