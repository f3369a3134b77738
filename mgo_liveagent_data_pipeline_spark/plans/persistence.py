"""Sink + streaming query registry — K-series materialized writes and the
Structured Streaming windows, each driver-checkable.

The materialized upsert runs the full staged-merge write path twice (the
second run proves idempotence — SURVEY §5.4's property, enforced inline)
and reads the table back; its oracle is the k4 merge-algebra SQL, so a
hash match proves write → read round-trip fidelity, not just plan algebra.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir
from ..sinks.writers import (
    history_append,
    overwrite,
    partitioned_scd2_upsert,
    partitioned_upsert,
    prepare_and_load,
    read_flat,
    read_partitioned,
    replace_partitions,
    scd2_upsert,
    table_path,
    upsert,
    zorder_write,
)
from ..sources.tables import load_table, local_table
from ..streaming.windows import session_windows, stream_tumbling_6h
from . import pipeline as _pipe
from .parity import _elt_parity_sql
from .pipeline import ORACLES as _pipeline_oracles
from .pipeline import _hamming_pairs_sql
from .relational import MONEY
from .relational import ORACLES as _relational_oracles


def q_k_materialized_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1+K2+K4, both merge layouts under one tagged row:

    * ``flat`` — seed a parquet target, staged-MERGE a changed batch into
      it twice (idempotent), read back, aggregate (the small-table path).
    * ``partitioned`` — the 100 TB path: the same batch merged twice into
      a manifest-bucketed table via ``partitioned_upsert``, which rewrites
      only the key-hash buckets containing source keys (untouched-bucket
      file immutability is asserted by ``tests/test_sinks.py``).
    * ``scd2`` / ``scd2p`` — the type-2 dimension-history merge through
      both layouts (``q_k_scd2_upsert``).
    * ``cdc`` — the change-feed latest-wins apply with delete
      tombstones (``q_k_cdc_apply``, sinks/writers.py:apply_cdc).
    * ``ttravel`` — time travel on the versioned (atomic-pointer) table:
      seed, merge, then read version 1 back — the pre-merge snapshot
      must still be byte-readable after the merge committed
      (sinks/writers.py:read_versioned / list_versions).

    The flat and partitioned halves share one merge-algebra oracle, so a
    hash match proves the partition-pruned write path produces the
    identical table state."""
    base_dir = scratch_dir("mgo_sink_")
    orders = load_table(spark, sf_dir, "orders")
    overwrite(orders, base_dir, "orders_t")
    source = orders.where(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_orderstatus", F.lit("X")
    )
    upsert(spark, source, base_dir, "orders_t", "o_orderkey")
    upsert(spark, source, base_dir, "orders_t", "o_orderkey")
    merged = spark.read.parquet(table_path(base_dir, "orders_t"))

    partitioned_upsert(spark, orders, base_dir, "orders_p", "o_orderkey",
                       num_buckets=16)
    partitioned_upsert(spark, source, base_dir, "orders_p", "o_orderkey")
    partitioned_upsert(spark, source, base_dir, "orders_p", "o_orderkey")
    pmerged = read_partitioned(spark, base_dir, "orders_p")

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast(MONEY)), 2)
            .cast("double")
            .alias("total_value"),
        ).select(F.lit(tag).alias("mode"), "status", "n", "total_value")

    cdc = q_k_cdc_apply(spark, sf_dir).select(
        F.lit("cdc").alias("mode"), "status", "n", "total_value"
    )

    from ..sinks.writers import read_versioned, versioned_upsert, versioned_write

    versioned_write(orders, base_dir, "orders_v")
    versioned_upsert(spark, source, base_dir, "orders_v", "o_orderkey")
    ttravel = read_versioned(spark, base_dir, "orders_v", version=1)

    return agg(merged, "flat").unionByName(agg(pmerged, "partitioned")) \
        .unionByName(q_k_scd2_upsert(spark, sf_dir)).unionByName(cdc) \
        .unionByName(agg(ttravel, "ttravel")) \
        .unionByName(q_k_scd2_cdc(spark, sf_dir))


def q_k_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC feed apply (sinks/writers.py:apply_cdc): a key-derived change
    feed — updates (+5.00, seq 2) for keys ≡0 (mod 11), delete
    tombstones (seq 3) for keys ≡0 (mod 23), inserts of shifted new
    keys for keys ≡0 (mod 31) — collapsed latest-wins onto the orders
    snapshot (keys divisible by 11·23 get U then D: the D must win).
    Summarized per status. Driver-visible via the ``cdc`` mode of
    ``k_materialized_upsert``."""
    from ..sinks.writers import apply_cdc

    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    u = t.where(k % 11 == 0).select(
        k.alias("o_orderkey"),
        F.col("o_orderstatus"),
        (F.col("o_totalprice") + 5.0).alias("o_totalprice"),
        F.lit(2).alias("seq"), F.lit("U").alias("op"),
    )
    d = t.where(k % 23 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit(3).alias("seq"), F.lit("D").alias("op"),
    )
    # negative keys keep the insert leg disjoint from live orderkeys at
    # EVERY scale factor (a fixed positive shift collides once orderkeys
    # exceed it, silently degrading inserts into updates)
    ins = t.where(k % 31 == 0).select(
        (-k).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice"),
        F.lit(1).alias("seq"), F.lit("I").alias("op"),
    )
    applied = apply_cdc(
        t, u.unionByName(d).unionByName(ins),
        ["o_orderkey"], "seq", "op",
    )
    return applied.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast(MONEY)), 2)
        .cast("double")
        .alias("total_value"),
    )


_SCD2_T1 = "2024-01-01 00:00:00"
_SCD2_T2 = "2024-06-01 00:00:00"


def q_k_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history through a real write→merge→read round trip,
    both layouts (sinks/writers.py:scd2_merge / partitioned_scd2_upsert):

    batch 1 loads all orders at T1; batch 2 re-delivers every key%10==0
    row but CHANGES only the key%20==0 half (status → 'X') — the other
    half is attribute-identical, proving null-safe change detection skips
    it. Batch 2 runs twice on the flat layout (idempotent no-op). The
    aggregation key encodes status + both validity dates, so a hash match
    pins the full [valid_from, valid_to) history, not just current rows.
    A third ``scd2asof`` mode reads the history back AS OF a timestamp
    between the two batches (sinks/writers.py:scd2_as_of) — the
    point-in-time view must reproduce the T1 state exactly. The
    reference keeps only load-time history (extractor_bq_helpers.py:
    83-108); SCD2 is its point-in-time strengthening."""
    base_dir = scratch_dir("mgo_scd2_")
    orders = load_table(spark, sf_dir, "orders")
    src = orders.where(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 20 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    scd2_upsert(spark, orders, base_dir, "od", "o_orderkey", _SCD2_T1)
    scd2_upsert(spark, src, base_dir, "od", "o_orderkey", _SCD2_T2)
    scd2_upsert(spark, src, base_dir, "od", "o_orderkey", _SCD2_T2)  # no-op
    flat = spark.read.parquet(table_path(base_dir, "od"))

    partitioned_scd2_upsert(
        spark, orders, base_dir, "odp", "o_orderkey", _SCD2_T1, num_buckets=16
    )
    partitioned_scd2_upsert(
        spark, src, base_dir, "odp", "o_orderkey", _SCD2_T2
    )
    part = read_partitioned(spark, base_dir, "odp")

    def agg(df: DataFrame, tag: str) -> DataFrame:
        status = F.concat_ws(
            "/",
            F.concat(
                F.col("o_orderstatus"),
                F.lit("@"),
                F.date_format("valid_from", "yyyy-MM-dd"),
            ),
            F.coalesce(
                F.date_format("valid_to", "yyyy-MM-dd"), F.lit("open")
            ),
        )
        return (
            df.groupBy(status.alias("status"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("o_totalprice").cast(MONEY)), 2)
                .cast("double")
                .alias("total_value"),
            )
            .select(F.lit(tag).alias("mode"), "status", "n", "total_value")
        )

    from ..sinks.writers import scd2_as_of

    asof = scd2_as_of(flat, "2024-03-01 00:00:00")
    return (
        agg(flat, "scd2")
        .unionByName(agg(part, "scd2p"))
        .unionByName(agg(asof, "scd2asof"))
    )


def q_k_scd2_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC feed → SCD2 history composition (sinks/writers.py:
    scd2_apply_cdc): the T1 dimension is seeded from an all-insert feed;
    the T2 feed carries status-change updates for keys ≡0 (mod 20) and
    delete tombstones for keys ≡0 (mod 50) — keys divisible by both get
    U (seq 1) then D (seq 2), and the tombstone must win the latest-wins
    collapse. Updates close + reopen intervals; tombstones CLOSE the open
    interval with no replacement row (the dimension's record of an
    upstream hard delete). Driver-visible via the ``scd2cdc`` mode of
    ``k_materialized_upsert``."""
    from ..sinks.writers import scd2_apply_cdc

    base_dir = scratch_dir("mgo_scd2cdc_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    init = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit(1).alias("seq"), F.lit("I").alias("op"),
    )
    scd2_apply_cdc(
        spark, init, base_dir, "odc", "o_orderkey", "seq", "op",
        _SCD2_T1, num_buckets=16,
    )
    u = orders.where(k % 20 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        "o_totalprice",
        F.lit(1).alias("seq"), F.lit("U").alias("op"),
    )
    d = orders.where(k % 50 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit(2).alias("seq"), F.lit("D").alias("op"),
    )
    scd2_apply_cdc(
        spark, u.unionByName(d), base_dir, "odc", "o_orderkey", "seq",
        "op", _SCD2_T2,
    )
    back = read_partitioned(spark, base_dir, "odc")
    status = F.concat_ws(
        "/",
        F.concat(
            F.col("o_orderstatus"), F.lit("@"),
            F.date_format("valid_from", "yyyy-MM-dd"),
        ),
        F.coalesce(F.date_format("valid_to", "yyyy-MM-dd"), F.lit("open")),
    )
    return (
        back.groupBy(status.alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast(MONEY)), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(F.lit("scd2cdc").alias("mode"), "status", "n", "total_value")
    )


def q_k5_history_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5+K6+K2 under one tagged row:

    * ``hist`` — every batch appended to ``<t>_history`` before the
      current-state merge (extractor_bq_helpers.py:83-108): two batches
      via the orchestrated loader (K6 ensure-table → append), history
      read back — both batches present, overlap rows twice.
    * ``datepart`` — the 100 TB append layout (K2): events written
      hive-partitioned by day, the earliest day's 6-hour-style batch
      re-delivered with revised values via dynamic partition overwrite
      (twice — idempotent), read back and aggregated per day
      (sinks/writers.py:replace_partitions; untouched-partition file
      immutability is asserted by ``tests/test_sinks.py``)."""
    base_dir = scratch_dir("mgo_hist_")
    nation = load_table(spark, sf_dir, "nation")
    b1 = nation.where(F.col("n_regionkey") <= 2).withColumn(
        "batch_id", F.lit(1)
    )
    b2 = nation.where(F.col("n_regionkey") >= 2).withColumn(
        "batch_id", F.lit(2)
    )
    history_append(spark, b1, base_dir, "nation_cur")
    history_append(spark, b2, base_dir, "nation_cur")
    # current state still goes through the orchestrated loader (K6)
    prepare_and_load(spark, b2.drop("batch_id"), base_dir, "nation_cur", "overwrite")
    hist = spark.read.parquet(table_path(base_dir, "nation_cur_history")).select(
        F.lit("hist").alias("mode"),
        F.col("n_name").alias("k1"),
        F.col("batch_id").cast("long").alias("n"),
        F.col("n_regionkey").cast("double").alias("val"),
    )
    # elt_parity: the reference's flagship lifecycle composed end-to-end
    # (tickets MERGE → window read-back → message enrich → users → convo
    # analysis → geocode/viable → history+merge → logs) — ledger packed
    # into k1 so one branch hash-checks all eight stages' counts AND
    # content checksums (plans/parity.py)
    from . import parity as _parity

    ep = _parity.q_elt_parity_pipeline(spark, sf_dir).select(
        F.lit("elt_parity").alias("mode"),
        F.concat_ws(
            "|",
            F.col("stage"),
            F.col("rows_in").cast("string"),
            F.col("rows_out").cast("string"),
            F.col("checksum").cast("string"),
        ).alias("k1"),
        F.col("stage_no").alias("n"),
        F.col("rows_out").cast("double").alias("val"),
    )
    return (
        hist.unionByName(q_k_datepart_sink(spark, sf_dir))
        .unionByName(q_k_zorder_sink(spark, sf_dir))
        .unionByName(q_k_compact_sink(spark, sf_dir))
        .unionByName(q_k_pointread_sink(spark, sf_dir))
        .unionByName(q_k_rangeread_sink(spark, sf_dir))
        .unionByName(ep)
    )


def q_k_compact_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round trip (sinks/writers.py:compact): six
    single-file appends → over the ``max_files=4`` threshold → compact
    rewrites the table into 2 files under the writer lease — and the
    read-back rows are byte-for-byte the same aggregate as before. The
    ``_files`` row pins the file counts (6 appends → 2 after compaction),
    so the oracle certifies the rewrite actually happened, not just that
    data survived. Driver-visible via the ``compact`` mode of
    ``k5_history_sink``."""
    from ..sinks.writers import append, compact, table_path

    base_dir = scratch_dir("mgo_compact_")
    nation = load_table(spark, sf_dir, "nation")
    for rk in range(5):  # 5 region slices + one full replay = 6 files
        append(
            nation.where(F.col("n_regionkey") == rk).repartition(1),
            base_dir, "nation_c",
        )
    append(nation.repartition(1), base_dir, "nation_c")
    n_after = compact(spark, base_dir, "nation_c", max_files=4, target_files=2)
    back = spark.read.parquet(table_path(base_dir, "nation_c"))
    rows = back.groupBy(
        F.col("n_regionkey").cast("string").alias("k1")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_nationkey").cast("double").alias("val"),
    ).select(F.lit("compact").alias("mode"), "k1", "n", "val")
    files = spark.range(1).select(
        F.lit("compact").alias("mode"),
        F.lit("_files").alias("k1"),
        F.lit(n_after).cast("long").alias("n"),
        F.lit(6.0).alias("val"),
    )
    return rows.unionByName(files)


def q_k_pointread_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pruned point lookup round trip (sinks/writers.py:
    read_partitioned_for_keys): orders published through the bucketed
    partitioned MERGE, then probed for the keys ≡ 0 (mod 97) — the read
    touches only the min(k, n) buckets those keys hash to (bucket-count
    asserted by tests/test_sinks.py) and must return exactly the probe
    rows. Driver-visible via the ``pointread`` mode of
    ``k5_history_sink``."""
    from ..sinks.writers import partitioned_upsert, read_partitioned_for_keys

    base_dir = scratch_dir("mgo_pointread_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    partitioned_upsert(
        spark, orders, base_dir, "orders_b", "o_orderkey", num_buckets=16
    )
    probe = orders.where(F.col("o_orderkey") % 97 == 0).select("o_orderkey")
    got = read_partitioned_for_keys(
        spark, base_dir, "orders_b", probe, "o_orderkey"
    )
    return got.groupBy(F.col("o_orderstatus").alias("k1")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast(MONEY)), 2)
        .cast("double")
        .alias("val"),
    ).select(F.lit("pointread").alias("mode"), "k1", "n", "val")


def q_k_rangeread_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-bucketed key-range scan round trip (sinks/writers.py:
    read_partitioned_range): orders published through the partitioned
    MERGE with ``range_width`` buckets (the monotone-key layout), then a
    BETWEEN scan reads only the O(range/width) buckets covering
    [1000, 4999] — pure bucket arithmetic, no data pass — and must
    return exactly the keys in range. Driver-visible via the
    ``rangeread`` mode of ``k5_history_sink``."""
    from ..sinks.writers import partitioned_upsert, read_partitioned_range

    base_dir = scratch_dir("mgo_rangeread_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    partitioned_upsert(
        spark, orders, base_dir, "orders_r", "o_orderkey",
        num_buckets=16, range_width=2000,
    )
    got = read_partitioned_range(
        spark, base_dir, "orders_r", "o_orderkey", 1000, 4999
    )
    return got.groupBy(F.col("o_orderstatus").alias("k1")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast(MONEY)), 2)
        .cast("double")
        .alias("val"),
    ).select(F.lit("rangeread").alias("mode"), "k1", "n", "val")


def q_k_zorder_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered publish round trip: events written Morton-ordered
    on (user_id, value) — multi-column data skipping whose pruning
    fraction is quantified from the parquet footers by
    ``tests/test_sinks.py`` — then read back and aggregated per day (the
    layout must not change the rows)."""
    base_dir = scratch_dir("mgo_zorder_")
    events = load_table(spark, sf_dir, "events")
    ev = events.withColumn("d", F.date_format("ts", "yyyy-MM-dd")).select(
        "event_id", "user_id", "value", "d"
    )
    zorder_write(spark, ev, base_dir, "events_z", ["user_id", "value"],
                 num_files=8)
    back = spark.read.parquet(table_path(base_dir, "events_z"))
    return (
        back.groupBy(F.col("d").alias("k1"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast(MONEY)), 2)
            .cast("double")
            .alias("val"),
        )
        .select(F.lit("zorder").alias("mode"), "k1", "n", "val")
    )


def q_k_datepart_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-partition-overwrite reload: all events land partitioned by
    day; the earliest day's batch is re-delivered with doubled values and
    replaces exactly that day's partition (run twice — idempotent). The
    min-day pick is a one-scalar driver collect, the same metadata-sized
    step as ``partitioned_upsert``'s affected-bucket listing."""
    base_dir = scratch_dir("mgo_datepart_")
    events = load_table(spark, sf_dir, "events")
    ev = events.withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
    # cluster rows by day before the write so each day lands as one file
    replace_partitions(ev.repartition(F.col("d")), base_dir, "events_p", "d")
    min_d = ev.agg(F.min("d")).collect()[0][0]
    batch = ev.where(F.col("d") == min_d).withColumn(
        "value", F.col("value") * 2
    )
    replace_partitions(batch.repartition(F.col("d")), base_dir, "events_p", "d")
    replace_partitions(batch.repartition(F.col("d")), base_dir, "events_p", "d")
    back = spark.read.parquet(table_path(base_dir, "events_p"))
    return (
        back.groupBy(
            F.date_format(F.col("d").cast("date"), "yyyy-MM-dd").alias("k1")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast(MONEY)), 2)
            .cast("double")
            .alias("val"),
        )
        .select(F.lit("datepart").alias("mode"), "k1", "n", "val")
    )


def q_stream_tumbling_6h(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 streaming: 6-hour tumbling windows via readStream + watermark
    + AvailableNow; equals the batch bucketing expression (shared oracle
    shape with f8). ``n_state_partitions=None`` inherits the session
    value — the stream_suite fan-out sets it ONCE for all members (a
    per-member conf mutation would race across its threads)."""
    return stream_tumbling_6h(spark, sf_dir, n_state_partitions=n_state_partitions)


def q_stream_append_6h(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 production output mode: append — each window emitted exactly
    once when the watermark passes its end; still-open windows withheld.
    The oracle applies the same cutoff (window_end ≤ max(ts) − 1h)."""
    from ..streaming.windows import stream_append_6h

    return stream_append_6h(spark, sf_dir, n_state_partitions=n_state_partitions)


def q_stream_dedup_6h(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 2
) -> DataFrame:
    """§2.8 stateful streaming dedup: every event delivered twice,
    dropDuplicatesWithinWatermark collapses redelivery, window counts
    must equal the single-copy batch oracle."""
    from ..streaming.windows import stream_dedup_6h

    return stream_dedup_6h(spark, sf_dir, n_state_partitions=n_state_partitions)


def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (30-minute gap)."""
    events = load_table(spark, sf_dir, "events")
    return session_windows(events, "ts", "user_id", "30 minutes")


def q_stream_upsert_6h(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 production path: streaming windowed agg foreachBatch-upserted
    into a parquet table, read back — exactly-once incremental MERGE."""
    from ..streaming.windows import stream_upsert_6h

    base_dir = scratch_dir("mgo_stream_sink_")
    path = stream_upsert_6h(
        spark, sf_dir, base_dir, n_state_partitions=n_state_partitions
    )
    return read_flat(spark, path)


def q_stream_merge_partitioned(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 scale path: the streaming windowed agg foreachBatch-MERGEd
    through the partition-pruned bucketed sink
    (streaming/windows.py:stream_merge_partitioned) — per micro-batch I/O
    is O(|batch| + affected buckets), not O(|table|)."""
    from ..sinks.writers import read_partitioned
    from ..streaming.windows import stream_merge_partitioned

    base_dir = scratch_dir("mgo_stream_psink_")
    stream_merge_partitioned(
        spark, sf_dir, base_dir, sink_name="events_6h_p",
        n_state_partitions=n_state_partitions,
    )
    return read_partitioned(spark, base_dir, "events_6h_p")


def q_stream_incremental_dedup(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 + incremental dedup composed: the documents corpus ingested
    as micro-batches, each deduped against the corpus-so-far through
    ``operators.dedup.incremental_minhash_dedup`` inside foreachBatch and
    MERGEd into corpus + pairs tables (streaming/windows.py:
    stream_incremental_dedup). The drained pair set equals the
    FULL-corpus minhash_lsh_dedup pairs whatever the batch split, so the
    batch LSH oracle checks the streaming run."""
    from ..streaming.windows import stream_incremental_dedup

    base_dir = scratch_dir("mgo_stream_incdedup_")
    pairs_path, _corpus = stream_incremental_dedup(
        spark, sf_dir, base_dir, n_state_partitions=n_state_partitions
    )
    return read_flat(spark, pairs_path).select("id_a", "id_b", "jaccard_sim")


def q_stream_semantic_dedup(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 + SemDeDup composed: the embeddings corpus ingested as
    micro-batches, each verdict-ed against the corpus-so-far through the
    stored assignment index, corpus flips emitted by the reverse pair
    probe (streaming/windows.py:stream_semantic_dedup). kept is monotone
    1→0, so the drained verdicts table equals the FULL-corpus
    semantic_dedup whatever the batch split — the batch member's oracle
    checks the streaming run verbatim."""
    from ..streaming.windows import stream_semantic_dedup

    base_dir = scratch_dir("mgo_stream_semdedup_")
    verdicts_path, _index = stream_semantic_dedup(
        spark, sf_dir, base_dir, n_state_partitions=n_state_partitions
    )
    return read_flat(spark, verdicts_path).select(
        "vec_id", "cluster_id", "centroid_sim", "kept"
    )


def q_stream_media_dedup(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 + perceptual dedup composed: the pHash fixture corpus
    ingested as MEDIA micro-batches, each decoded → dHashed →
    delta-vs-corpus paired against the stored fingerprint index inside
    foreachBatch, pairs and fingerprints MERGEd (streaming/windows.py:
    stream_media_dedup). The drained pair table equals the full-corpus
    banded pairs == the brute-force Hamming spec, whatever the split."""
    from pyspark.sql import types as T

    from ..operators.multimodal import phash_fixture_images
    from ..streaming.windows import stream_media_dedup

    base_dir = scratch_dir("mgo_stream_phash_")
    fixture = local_table(
        spark,
        [(c["img_id"], bytearray(c["payload"])) for c in phash_fixture_images()],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    pairs_path, _index = stream_media_dedup(
        spark, fixture, base_dir, n_state_partitions=n_state_partitions
    )
    return read_flat(spark, pairs_path).select(
        "id_a", "id_b", F.col("hamming_dist").cast("long").alias("hamming_dist")
    )


def _media_stream_pairs_sql() -> str:
    """Brute-force Hamming-≤7 pairs over the pHash fixture's pre-pack
    expected hashes — the drained streaming pair table's twin."""
    from ..operators.multimodal import phash_fixture_images

    return _hamming_pairs_sql(phash_fixture_images())


def q_stream_scored_ingest(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 + the scored-curation gates composed INTO continuous
    ingestion: each documents micro-batch passes the quality gate and
    the CCNet perplexity gate (static English reference model, tail
    dropped) BEFORE indexing, then dedups against the corpus-so-far and
    MERGEs (streaming/windows.py:stream_scored_ingest). Restart-safe by
    the same idempotent-MERGE argument as ``incdedup`` — the gates are
    pure per-doc maps, so a replayed batch gates identically. The
    drained pair table equals the batch gate→ppl→LSH composition over
    the whole table (pipeline._scored_ingest_oracle), whatever the
    batch split."""
    from ..streaming.windows import stream_scored_ingest

    base_dir = scratch_dir("mgo_stream_scored_")
    pairs_path, _corpus = stream_scored_ingest(
        spark,
        sf_dir,
        base_dir,
        lm_buckets=_pipe.LM_BUCKETS,
        head_nll=_pipe.LM_HEAD_NLL,
        tail_nll=_pipe.LM_TAIL_NLL,
        n_state_partitions=n_state_partitions,
    )
    return read_flat(spark, pairs_path).select(
        "id_a", "id_b", "jaccard_sim"
    )


def q_stream_entity_resolution(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 + entity resolution composed: the dirty-CRM record fixture
    ingested as micro-batches (rec_id % 3 scatters each customer's
    variants across batches, so cross-batch links and entity MERGES are
    exercised), each batch resolved delta-vs-corpus against the stored
    assignment inside foreachBatch and MERGEd
    (streaming/windows.py:stream_entity_resolution). The drained
    assignment table equals the full-batch ``resolve_entities`` over
    all records — the ``entity_resolution_inc`` oracle verbatim."""
    from ..streaming.windows import stream_entity_resolution
    from .relational import _er_records

    base_dir = scratch_dir("mgo_stream_er_")
    asg_path, _ = stream_entity_resolution(
        spark,
        _er_records(spark, sf_dir),
        base_dir,
        n_state_partitions=n_state_partitions,
    )
    return read_flat(spark, asg_path).select(
        "rec_id", "entity_id", "n_records"
    )


def q_stream_er_indexed(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 + streaming ER on the fully INDEXED state layout — record
    and assignment tables as bucketed ptables (``state_num_buckets``)
    plus the secondary BLOCK INDEX (``block_index_buckets``): each
    ingest reads only the index buckets its block values hash to,
    resolves the delta-neighborhood rec_ids, and reads only those
    records' buckets, so per-batch scan I/O tracks the delta's
    neighborhood instead of the standing corpus
    (streaming/windows.py:stream_entity_resolution — the round-11
    removal of the records-side linear term). Same fixture and batch
    split as ``stream_entity_resolution``; the index is pure I/O
    pruning, so the drained assignment equals the full-batch
    ``resolve_entities`` — the ``entity_resolution_inc`` oracle
    verbatim."""
    from ..sinks.writers import read_partitioned
    from ..streaming.windows import stream_entity_resolution
    from .relational import _er_records

    base_dir = scratch_dir("mgo_stream_eridx_")
    stream_entity_resolution(
        spark,
        _er_records(spark, sf_dir),
        base_dir,
        n_state_partitions=n_state_partitions,
        state_num_buckets=16,
        block_index_buckets=16,
    )
    return read_partitioned(spark, base_dir, "er_assignment").select(
        "rec_id", "entity_id", "n_records"
    )


def q_stream_er_golden(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 + the materialized GOLDEN DIMENSION maintained by streaming
    ER (streaming/windows.py:stream_entity_resolution with
    golden_rules): each record batch recomputes golden rows for its
    touched entities and MERGEs them, and a self-healing stale sweep
    MERGE-DELETEs golden keys superseded by entity merges (an entity
    swallowed by a bridge record must DISAPPEAR from the dimension —
    the delete leg plain upserts cannot express). Since round 10 the
    dimension is a BUCKETED ptable: MERGE and sweep rewrite only
    affected buckets (sinks/writers.py:partitioned_delete_keys), not
    the whole table per batch. The drained golden table equals the
    full-batch golden records — the ``entity_resolution`` member's
    oracle verbatim."""
    from ..sinks.writers import read_partitioned
    from ..streaming.windows import stream_entity_resolution
    from .relational import _er_records

    base_dir = scratch_dir("mgo_stream_ergold_")
    _asg, golden_path = stream_entity_resolution(
        spark,
        _er_records(spark, sf_dir),
        base_dir,
        n_state_partitions=n_state_partitions,
        golden_rules={
            "name": "first_by_key", "phone": "min", "address": "longest"
        },
    )
    assert golden_path is not None
    return read_partitioned(spark, base_dir, "er_golden").select(
        "entity_id", "n_records", "name", "phone", "address"
    )


def q_stream_gated_ingest(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 + the declarative quality gate composed into ingestion with
    a quarantine table (streaming/windows.py:stream_gated_ingest): the
    documents corpus ingested as doc_id%3 micro-batches, each gated by
    (min doc_id ≥ 1, text not null) — batch 0 carries doc_id 0 at every
    sf, so exactly it lands in quarantine while the others reach the
    kept table. Returns (doc_id, verdict) over both tables; the oracle
    reproduces the per-batch gate in SQL."""
    from ..streaming.windows import stream_gated_ingest

    base_dir = scratch_dir("mgo_stream_gated_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    kept_path, quarantine_path = stream_gated_ingest(
        spark,
        docs,
        base_dir,
        [("min", "doc_id", 1), ("not_null", "text")],
        n_state_partitions=n_state_partitions,
    )
    kept = read_flat(spark, kept_path).select(
        "doc_id", F.lit("kept").alias("verdict")
    )
    quar = read_flat(spark, quarantine_path).select(
        "doc_id", F.lit("quarantined").alias("verdict")
    )
    return kept.unionByName(quar)


def q_stream_hypertable_rollup(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 + the continuous aggregate composed: events ingested as
    micro-batches, each folded to hourly partials keyed by
    (batch_id, bucket) and MERGEd idempotently (streaming/windows.py:
    stream_hypertable_rollup — additivity moves to read time, which is
    what makes crash replay safe for an ADDITIVE aggregate). The live
    rollup is the read-time fold of partials through
    ``hypertable_rollup_from_hourly``; decimal/long associativity makes
    it equal the batch ``hypertable_rollup`` for any split, so the batch
    ``ht_rollup`` oracle checks the streaming run verbatim."""
    from ..operators.aggregations import hypertable_rollup_from_hourly
    from ..streaming.windows import stream_hypertable_rollup

    base_dir = scratch_dir("mgo_stream_cagg_")
    partials_path = stream_hypertable_rollup(
        spark, sf_dir, base_dir, n_state_partitions=n_state_partitions
    )
    partials = read_flat(spark, partials_path)
    hourly = partials.groupBy("bucket_ts").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("total").alias("__total"),
    )
    return hypertable_rollup_from_hourly(hourly)


def q_stream_ann_ingest(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 1
) -> DataFrame:
    """§2.8 + ANN index maintenance composed: embedding micro-batches
    assigned to frozen centroids and MERGEd into a stored IVF
    posting-list table (streaming/windows.py:stream_ann_ingest), then
    queried THROUGH the stored index — ``ivf_topk`` with
    ``corpus_preassigned=True`` reads posting lists as stored, no
    assignment scan. Assignment is a pure per-vector map of the frozen
    artifact, so the drained 2-probe top-5 equals the batch ivf_topk
    with the same centroids for any split; the oracle mirrors the
    nearest-centroid assignment + probe in SQL."""
    from ..operators.annsearch import ivf_topk
    from ..streaming.windows import stream_ann_ingest

    base_dir = scratch_dir("mgo_stream_annivf_")
    index_path, cents = stream_ann_ingest(
        spark, sf_dir, base_dir, n_state_partitions=n_state_partitions
    )
    index = read_flat(spark, index_path).withColumnRenamed(
        "cv", "embedding"
    )
    queries = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return ivf_topk(
        index,
        queries,
        k=5,
        query_key="query_id",
        n_probes=2,
        centroids=cents,
        corpus_preassigned=True,
    )


def _ivf_ingest_oracle(n_probes: int = 2, k: int = 5) -> str:
    """Mirror of q_stream_ann_ingest's drained query: nearest-centroid
    assignment of EVERY corpus vector (ties → highest cluster_id, as
    operators/annsearch.py:assign_nearest), then the standard IVF probe
    (ties → lowest cluster_id) over the assigned posting lists."""
    cos_vc = _pipe._COSINE.format(a="v.cv", b="c.centroid")
    return f"""
        WITH q AS (
          SELECT vec_id AS query_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id < 5),{_pipe._ivf_route_ctes(n_probes, ("qv",))}
        v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
          FROM embeddings),
        assigned AS (
          SELECT vec_id AS corpus_id, cv, cluster_id FROM (
            SELECT v.vec_id, v.cv, c.cluster_id,
                   row_number() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY round({cos_vc}, 6) DESC,
                              c.cluster_id DESC) AS rn
            FROM v CROSS JOIN cents c) WHERE rn = 1),{
            _pipe._pairs_sql("assigned c JOIN probe q USING (cluster_id)", k=k)}"""


def q_stream_join_30m(
    spark: SparkSession, sf_dir: str, n_state_partitions: int | None = 2
) -> DataFrame:
    """§2.8 stream-stream join: watermarked trades⋈quotes within a
    30-minute event-time band (streaming/windows.py:stream_join_30m);
    inner-join emission means the drained result equals the exact batch
    join, which is the oracle."""
    from ..streaming.windows import stream_join_30m

    return stream_join_30m(spark, sf_dir, n_state_partitions=n_state_partitions)


QUERIES = {
    "k_materialized_upsert": q_k_materialized_upsert,
    "k_scd2_upsert": q_k_scd2_upsert,
    "k_cdc_apply": q_k_cdc_apply,
    "k5_history_sink": q_k5_history_sink,
    "k_datepart_sink": q_k_datepart_sink,
    "k_zorder_sink": q_k_zorder_sink,
    "k_compact_sink": q_k_compact_sink,
    "k_scd2_cdc": q_k_scd2_cdc,
    "k_pointread_sink": q_k_pointread_sink,
    "k_rangeread_sink": q_k_rangeread_sink,
    "stream_tumbling_6h": q_stream_tumbling_6h,
    "stream_append_6h": q_stream_append_6h,
    "stream_session_windows": q_stream_session_windows,
    "stream_upsert_6h": q_stream_upsert_6h,
    "stream_dedup_6h": q_stream_dedup_6h,
    "stream_merge_partitioned": q_stream_merge_partitioned,
    "stream_incremental_dedup": q_stream_incremental_dedup,
    "stream_scored_ingest": q_stream_scored_ingest,
    "stream_semantic_dedup": q_stream_semantic_dedup,
    "stream_media_dedup": q_stream_media_dedup,
    "stream_entity_resolution": q_stream_entity_resolution,
    "stream_er_indexed": q_stream_er_indexed,
    "stream_gated_ingest": q_stream_gated_ingest,
    "stream_er_golden": q_stream_er_golden,
    "stream_hypertable_rollup": q_stream_hypertable_rollup,
    "stream_ann_ingest": q_stream_ann_ingest,
    "stream_join_30m": q_stream_join_30m,
}

# latest-wins collapse mirrored from apply_cdc: row_number over
# (seq DESC, op DESC) = max_by struct(seq, op)
_CDC_SQL = """
        WITH t AS (
          SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p
          FROM orders),
        ch AS (
          SELECT k, s, p + 5.0 AS p, 2 AS seq, 'U' AS op
          FROM t WHERE k % 11 = 0
          UNION ALL
          SELECT k, s, p, 3, 'D' FROM t WHERE k % 23 = 0
          UNION ALL
          SELECT -k, 'N', p, 1, 'I' FROM t WHERE k % 31 = 0),
        latest AS (
          SELECT k, s, p, op FROM (
            SELECT *, row_number() OVER (
              PARTITION BY k ORDER BY seq DESC, op DESC) AS rn
            FROM ch) WHERE rn = 1),
        applied AS (
          SELECT k, s, p FROM t
          WHERE k NOT IN (SELECT k FROM latest)
          UNION ALL
          SELECT k, s, p FROM latest WHERE op <> 'D')
        SELECT s AS status, count(*) AS n,
               CAST(round(sum(CAST(p AS DECIMAL(12,2))), 2) AS DOUBLE)
                 AS total_value
        FROM applied GROUP BY s
"""

# CDC→SCD2 composition: U winners (mod 20, not deleted) close+reopen,
# D winners (mod 50; beats the mod-100 keys' U at lower seq) close only
_SCD2CDC_SQL = """
        WITH t AS (
          SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p
          FROM orders),
        r AS (
          SELECT s || '@2024-01-01/2024-06-01' AS status, p
          FROM t WHERE k % 20 = 0 OR k % 50 = 0
          UNION ALL
          SELECT s || '@2024-01-01/open', p
          FROM t WHERE NOT (k % 20 = 0 OR k % 50 = 0)
          UNION ALL
          SELECT 'X@2024-06-01/open', p
          FROM t WHERE k % 20 = 0 AND k % 50 <> 0)
        SELECT 'scd2cdc' AS mode, status, count(*) AS n,
               CAST(round(sum(CAST(p AS DECIMAL(12,2))), 2) AS DOUBLE)
                 AS total_value
        FROM r GROUP BY status
"""

ORACLES: dict[str, str] = {
    # the drained streaming incremental-dedup pair table equals the
    # full-corpus batch LSH pair set (see stream_incremental_dedup) —
    # reuse the minhash member oracle verbatim
    "stream_incremental_dedup": _pipeline_oracles["dedup_minhash_lsh"],
    # drained scored-ingest pairs = batch gate -> ppl -> LSH composition
    "stream_scored_ingest": _pipe._scored_ingest_oracle(),
    # drained streaming SemDeDup verdicts = full-corpus batch verdicts
    # (kept is monotone; flips close the later-arrival direction)
    "stream_semantic_dedup": _pipeline_oracles["dedup_semantic"],
    # drained streaming media-dedup pairs == full-corpus brute-force spec
    "stream_media_dedup": _media_stream_pairs_sql(),
    # drained streaming-ER assignment == the full-batch assignment
    "stream_entity_resolution": _relational_oracles["entity_resolution_inc"],
    # the block index is pure I/O pruning — same drained state, same oracle
    "stream_er_indexed": _relational_oracles["entity_resolution_inc"],
    # drained streaming golden dimension == the full-batch golden records
    "stream_er_golden": _relational_oracles["entity_resolution"],
    # per-batch gate reproduced in SQL: a doc_id%3 batch is quarantined
    # iff its min doc_id < 1 or it carries a NULL text
    "stream_gated_ingest": """
        WITH bstat AS (
          SELECT doc_id % 3 AS b, min(doc_id) AS mn,
                 count(*) FILTER (WHERE text IS NULL) AS nn
          FROM documents GROUP BY 1)
        SELECT d.doc_id,
               CASE WHEN s.mn < 1 OR s.nn > 0 THEN 'quarantined'
                    ELSE 'kept' END AS verdict
        FROM documents d JOIN bstat s ON s.b = d.doc_id % 3
    """,
    # drained continuous aggregate == batch hypertable rollup (decimal
    # additivity) — reuse the ht_rollup member oracle verbatim
    "stream_hypertable_rollup": _relational_oracles["ht_rollup"],
    # drained stored-index 2-probe top-5 == batch ivf over the same
    # frozen centroids; assignment + probe mirrored in SQL
    "stream_ann_ingest": _ivf_ingest_oracle(),
    "k_cdc_apply": _CDC_SQL,
    "k_scd2_cdc": _SCD2CDC_SQL,
    # same algebra as k4_upsert_merge — but computed through a real
    # write/merge/read round trip on the Spark side, once per layout
    # (flat whole-table merge, partitioned bucket-pruned merge)
    "k_materialized_upsert": """
        WITH source AS (
          SELECT * REPLACE ('X' AS o_orderstatus) FROM orders WHERE o_orderkey % 10 = 0),
        target_keep AS (
          SELECT * FROM orders
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)),
        merged AS (
          SELECT * FROM target_keep UNION ALL SELECT * FROM source),
        agg AS (
          SELECT o_orderstatus AS status, count(*) AS n,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
          FROM merged GROUP BY o_orderstatus)
        SELECT 'flat' AS mode, status, n, total_value FROM agg
        UNION ALL
        SELECT 'partitioned' AS mode, status, n, total_value FROM agg
        UNION ALL
        SELECT * FROM (
        WITH chg AS (SELECT * FROM orders WHERE o_orderkey % 20 = 0),
             rest AS (SELECT * FROM orders WHERE o_orderkey % 20 <> 0),
             r AS (
               SELECT o_orderstatus, o_totalprice,
                      '2024-01-01' AS vf, '2024-06-01' AS vt FROM chg
               UNION ALL
               SELECT 'X', o_totalprice, '2024-06-01', 'open' FROM chg
               UNION ALL
               SELECT o_orderstatus, o_totalprice, '2024-01-01', 'open' FROM rest),
             sagg AS (
               SELECT o_orderstatus || '@' || vf || '/' || vt AS status,
                      count(*) AS n,
                      CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                           AS DOUBLE) AS total_value
               FROM r GROUP BY 1)
        SELECT 'scd2' AS mode, status, n, total_value FROM sagg
        UNION ALL
        SELECT 'scd2p' AS mode, status, n, total_value FROM sagg
        UNION ALL
        SELECT 'scd2asof' AS mode,
               o_orderstatus || '@' || vf || '/' || vt AS status,
               count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_value
        FROM r
        WHERE vf <= '2024-03-01' AND (vt = 'open' OR vt > '2024-03-01')
        GROUP BY 2)
        UNION ALL
        SELECT 'cdc' AS mode, status, n, total_value FROM ("""
    + _CDC_SQL
    + """)
        UNION ALL
        -- time travel: version 1 is the table BEFORE the merge
        SELECT 'ttravel' AS mode, o_orderstatus AS status, count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_value
        FROM orders GROUP BY o_orderstatus
        UNION ALL
        SELECT * FROM ("""
    + _SCD2CDC_SQL
    + """)
    """,
    # after batch 2: key%20==0 rows are closed at T2 with an 'X' successor;
    # every other key keeps its T1-open row (including the re-delivered
    # identical key%10 half — change detection must not version them)
    "k_scd2_upsert": """
        WITH chg AS (SELECT * FROM orders WHERE o_orderkey % 20 = 0),
             rest AS (SELECT * FROM orders WHERE o_orderkey % 20 <> 0),
             r AS (
               SELECT o_orderstatus, o_totalprice,
                      '2024-01-01' AS vf, '2024-06-01' AS vt FROM chg
               UNION ALL
               SELECT 'X', o_totalprice, '2024-06-01', 'open' FROM chg
               UNION ALL
               SELECT o_orderstatus, o_totalprice, '2024-01-01', 'open' FROM rest),
             sagg AS (
               SELECT o_orderstatus || '@' || vf || '/' || vt AS status,
                      count(*) AS n,
                      CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                           AS DOUBLE) AS total_value
               FROM r GROUP BY 1)
        SELECT 'scd2' AS mode, status, n, total_value FROM sagg
        UNION ALL
        SELECT 'scd2p' AS mode, status, n, total_value FROM sagg
        UNION ALL
        -- point-in-time view between the batches = the T1 state
        SELECT 'scd2asof' AS mode,
               o_orderstatus || '@' || vf || '/' || vt AS status,
               count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_value
        FROM r
        WHERE vf <= '2024-03-01' AND (vt = 'open' OR vt > '2024-03-01')
        GROUP BY 2
    """,
    "k5_history_sink": """
        SELECT 'hist' AS mode, n_name AS k1, CAST(1 AS BIGINT) AS n,
               CAST(n_regionkey AS DOUBLE) AS val
        FROM nation WHERE n_regionkey <= 2
        UNION ALL
        SELECT 'hist' AS mode, n_name AS k1, CAST(2 AS BIGINT) AS n,
               CAST(n_regionkey AS DOUBLE) AS val
        FROM nation WHERE n_regionkey >= 2
        UNION ALL
        SELECT * FROM (
        WITH e AS (SELECT CAST(ts AS DATE) AS d, value FROM events),
             m AS (SELECT min(d) AS md FROM e),
             r AS (SELECT d, CASE WHEN d = md THEN value * 2
                                  ELSE value END AS value
                   FROM e, m)
        SELECT 'datepart' AS mode, strftime(d, '%Y-%m-%d') AS k1,
               count(*) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS val
        FROM r GROUP BY d)
        UNION ALL
        SELECT 'zorder' AS mode, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS k1,
               count(*) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS val
        FROM events GROUP BY CAST(ts AS DATE)
        UNION ALL
        SELECT 'compact' AS mode, CAST(n_regionkey AS VARCHAR) AS k1,
               2 * count(*) AS n,
               CAST(2 * sum(n_nationkey) AS DOUBLE) AS val
        FROM nation GROUP BY n_regionkey
        UNION ALL
        SELECT 'compact', '_files', CAST(2 AS BIGINT), 6.0
        UNION ALL
        SELECT 'pointread' AS mode, o_orderstatus AS k1, count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS val
        FROM orders WHERE o_orderkey % 97 = 0 GROUP BY o_orderstatus
        UNION ALL
        SELECT 'rangeread' AS mode, o_orderstatus AS k1, count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS val
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 4999
        GROUP BY o_orderstatus
        UNION ALL
        SELECT 'elt_parity' AS mode,
               stage || '|' || rows_in || '|' || rows_out || '|' || checksum
                 AS k1,
               stage_no AS n, CAST(rows_out AS DOUBLE) AS val
        FROM (""" + _elt_parity_sql() + """)
    """,
    # six 1-file appends (5 region slices + full replay) compacted to 2
    # files; per-region aggregates double-counted by the replay, and the
    # _files row pins (files_after=2, files_before=6)
    "k_compact_sink": """
        SELECT 'compact' AS mode, CAST(n_regionkey AS VARCHAR) AS k1,
               2 * count(*) AS n,
               CAST(2 * sum(n_nationkey) AS DOUBLE) AS val
        FROM nation GROUP BY n_regionkey
        UNION ALL
        SELECT 'compact', '_files', CAST(2 AS BIGINT), 6.0
    """,
    # the range-bucket BETWEEN scan returns exactly the in-range keys
    "k_rangeread_sink": """
        SELECT 'rangeread' AS mode, o_orderstatus AS k1, count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS val
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 4999
        GROUP BY o_orderstatus
    """,
    # the manifest-pruned probe returns exactly the mod-97 keys' rows
    "k_pointread_sink": """
        SELECT 'pointread' AS mode, o_orderstatus AS k1, count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS val
        FROM orders WHERE o_orderkey % 97 = 0 GROUP BY o_orderstatus
    """,
    # the replayed min-day partition carries doubled values exactly once
    "k_datepart_sink": """
        WITH e AS (SELECT CAST(ts AS DATE) AS d, value FROM events),
             m AS (SELECT min(d) AS md FROM e),
             r AS (SELECT d, CASE WHEN d = md THEN value * 2
                                  ELSE value END AS value
                   FROM e, m)
        SELECT 'datepart' AS mode, strftime(d, '%Y-%m-%d') AS k1,
               count(*) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS val
        FROM r GROUP BY d
    """,
    # layout is invisible to query results: same per-day totals as raw
    "k_zorder_sink": """
        SELECT 'zorder' AS mode, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS k1,
               count(*) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS val
        FROM events GROUP BY CAST(ts AS DATE)
    """,
    "stream_tumbling_6h": """
        WITH b AS (
          SELECT make_timestamp((((epoch_us(ts) // 1000000)
                 - (epoch_us(ts) // 1000000) % 21600)) * 1000000) AS window_start,
                 value
          FROM events)
        SELECT window_start, count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        FROM b GROUP BY window_start
    """,
    # append mode: only watermark-finalized windows (end ≤ max ts − 1 h)
    "stream_append_6h": """
        WITH e AS (SELECT epoch_us(ts) AS us, value FROM events),
        b AS (SELECT ((us // 1000000) - (us // 1000000) % 21600) AS ws,
                     value FROM e),
        m AS (SELECT max(us) AS mx FROM e)
        SELECT make_timestamp(ws * 1000000) AS window_start,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        FROM b, m
        GROUP BY ws, mx
        HAVING (ws + 21600) * 1000000 <= mx - CAST(3600000000 AS BIGINT)
    """,
    "stream_upsert_6h": """
        WITH b AS (
          SELECT make_timestamp((((epoch_us(ts) // 1000000)
                 - (epoch_us(ts) // 1000000) % 21600)) * 1000000) AS window_start,
                 value
          FROM events)
        SELECT window_start, count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        FROM b GROUP BY window_start
    """,
    # bucket-pruned MERGE sink ≡ the full-rewrite upsert's table
    "stream_merge_partitioned": """
        WITH b AS (
          SELECT make_timestamp((((epoch_us(ts) // 1000000)
                 - (epoch_us(ts) // 1000000) % 21600)) * 1000000) AS window_start,
                 value
          FROM events)
        SELECT window_start, count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        FROM b GROUP BY window_start
    """,
    # the doubled stream deduped ≡ the single-copy batch windows
    "stream_dedup_6h": """
        WITH b AS (
          SELECT make_timestamp((((epoch_us(ts) // 1000000)
                 - (epoch_us(ts) // 1000000) % 21600)) * 1000000) AS window_start,
                 value
          FROM events)
        SELECT window_start, count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        FROM b GROUP BY window_start
    """,
    # inner stream-stream join emits on match — no cutoff; exact batch twin
    "stream_join_30m": """
        WITH t AS (SELECT user_id, ts, value FROM events WHERE event_id % 2 = 1),
             q AS (SELECT user_id, ts, value FROM events WHERE event_id % 2 = 0)
        SELECT t.user_id, count(*) AS n_pairs,
               CAST(round(sum(CAST(q.value AS DECIMAL(12,2))), 2) AS DOUBLE)
                 AS total_quote_value
        FROM t JOIN q
          ON q.user_id = t.user_id
         AND q.ts >= t.ts - INTERVAL 30 MINUTE
         AND q.ts <= t.ts
        GROUP BY t.user_id
    """,
    "stream_session_windows": """
        WITH o AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM o)
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid
    """,
}
