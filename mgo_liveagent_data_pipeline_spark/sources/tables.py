"""Parquet table catalog.

Reference counterpart: ``core/BigQueryManager.py:116-123`` (``sql_query_bq``)
and ``core/extract/Extractor.py:178-198`` (``fetch_bq_table``) — the
reference's "catalog" is a BigQuery dataset it queries with f-string SQL.
Here tables are Parquet directories; ``spark.read.parquet`` gives vectorized
scans with predicate pushdown and column pruning, so every downstream
``.select``/``.where`` reaches the file footer (check ``PushedFilters`` /
``ReadSchema`` in ``.explain``).

At 100 TB these would be date-partitioned (hive-style ``dt=`` dirs) or Delta
tables; the loaders keep that swap localized to this module.
"""
from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that the reference kept as in-memory dict caches
# (core/Ticket.py:24, core/TicketMessageProcessor.py:21-22). In Spark the
# equivalent is "always on the broadcast side of a join".
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


# Tables whose source timestamp column has shipped in multiple physical
# encodings across generator versions: INT64 TIMESTAMP(NANOS) (Spark only
# reads it as a raw long via spark.sql.legacy.parquet.nanosAsLong),
# TIMESTAMP_NTZ micros (naive UTC wall time), or a plain TIMESTAMP.
# Loaders normalize all three to TimestampType instants — the session
# timezone is pinned UTC (session.py), so NTZ→LTZ keeps the same instant.
EVENT_TS_TABLES = {"events": ("ts",)}


def _normalize_ts(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    dtypes = dict(df.dtypes)
    for c in cols:
        dt = dtypes.get(c)
        if dt == "bigint":
            # exact integer division: the generator emits whole micros
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, broadcast_dim: bool = True
) -> DataFrame:
    """Scan one table. Lazy; no IO until an action runs. Known small
    dimensions carry a broadcast hint — every join against them becomes a
    broadcast hash join regardless of size estimation (the reference kept
    exactly these as in-process dict caches).

    ``broadcast_dim=False`` skips the table-level hint: a caller that
    feeds the dimension into a UNION (or any non-join operator) must
    apply ``F.broadcast`` at its own join sites instead — a hint buried
    under a Union is not adjacent to any join, so the optimizer drops it
    with a per-plan HintErrorLogger WARN and it does nothing."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    ts_cols = EVENT_TS_TABLES.get(name)
    if ts_cols:
        # Runtime-settable SQL conf; affects only NANOS-precision columns,
        # so micros tables (orders/lineitem) are untouched.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _normalize_ts(spark.read.parquet(path), ts_cols)
    else:
        df = spark.read.parquet(path)
    return F.broadcast(df) if broadcast_dim and name in BROADCAST_DIMS else df


def local_table(
    spark: SparkSession,
    rows: Sequence[Sequence],
    schema: str | StructType,
) -> DataFrame:
    """A driver-built relation: ``rows`` (tuples in ``schema`` field
    order; may be empty) under a DDL string or ``StructType`` schema.

    The rows travel to the JVM as one Arrow table, so the frame analyzes
    to a ``LocalRelation`` with exactly ``schema``'s names, types and
    nullability and evaluating it runs no Python task. A plain
    ``spark.createDataFrame(<list>)`` goes through ``sc.parallelize`` and a
    pickling map instead, which starts a pool of Python workers that stays
    idle for the rest of the session; this helper is the package's only
    ``createDataFrame`` call (pinned by a lint test). Naive ``datetime``
    values are read as UTC, the pinned session timezone (session.py)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def load_events_window(
    spark: SparkSession,
    sf_dir: str,
    start: str,
    end: str,
    name: str = "events",
    ts_col: str = "ts",
) -> DataFrame:
    """P3 at scale: time-range scan whose range predicate actually reaches
    the parquet footer (row-group/file pruning by min-max stats — the
    difference between a pruned scan and a full pass at 100 TB).

    The predicate is applied to the column in its *native* physical type
    with a literal of that same type; normalization to TimestampType
    happens after the pushed filter. Filtering a converted/cast column
    instead leaves only IsNotNull in PushedFilters (verified via explain).
    """
    import datetime as _dt

    path = os.path.join(sf_dir, f"{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(path)
    dt = dict(raw.dtypes).get(ts_col)
    if dt == "bigint":
        # legacy TIMESTAMP(NANOS) files surfaced as raw longs

        def _ns(s: str) -> int:
            d = _dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(
                tzinfo=_dt.timezone.utc
            )
            return int(d.timestamp()) * 1_000_000_000

        lo, hi = F.lit(_ns(start)), F.lit(_ns(end))
    else:
        # timestamp / timestamp_ntz: same-type literals keep the range
        # predicate pushdown-eligible (strings are UTC wall-clock either
        # way — the session timezone is pinned UTC)
        lo, hi = F.lit(start).cast(dt), F.lit(end).cast(dt)
    out = raw.where((F.col(ts_col) >= lo) & (F.col(ts_col) < hi))
    return _normalize_ts(out, (ts_col,))


def load_csv(
    spark: SparkSession, path: str, schema=None, header: bool = True
) -> DataFrame:
    """S8: CSV reference-table scan (the serviceable-municipality list,
    utils/geocode_utils.py:23). Explicit schema preferred (K3); header
    inference otherwise."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def cached_gazetteer(
    spark: SparkSession, path: str, clean_col: str = "address"
) -> DataFrame:
    """S9: gazetteer scan + derived cleaned column + cache — the
    reference loads the PSGC table once per process and keeps it in memory
    (core/Geocode.py:25-29); here it's a cached DataFrame that every
    similarity join broadcasts."""
    from ..functions.strings import clean_str

    gaz = spark.read.parquet(path).withColumn(
        f"{clean_col}_cleaned", clean_str(F.col(clean_col))
    )
    return gaz.cache()


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> None:
    """Register every table as a temp view so ``spark.sql`` plans against
    them (reference op S6: arbitrary warehouse SQL)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
