"""Aggregation operators (reference §2.4, A3-A6).

All hash aggregations with map-side partial aggregation — Spark's default.
Money math is done in DECIMAL so results are bit-exact regardless of
partitioning / summation order (a 32-way local sum and a 1000-executor sum
produce the same answer — required for the DuckDB oracle hash-match and,
more importantly, for reproducible pipelines at scale).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_table

# Decimal wide enough for sf100k money sums, exact in both Spark and DuckDB.
MONEY = "decimal(12,2)"
RATE = "decimal(12,4)"


def distinct_ids_from_columns(df: DataFrame, cols: list[str], out: str = "id") -> DataFrame:
    """A3: unique ids pooled from several columns
    (core/TicketMessageProcessor.py:24-37) — explode + distinct, one shuffle."""
    exploded = df.select(
        F.explode(F.array(*[F.col(c) for c in cols])).alias(out)
    )
    return exploded.where(F.col(out).isNotNull()).distinct()


def ordered_group_concat(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    text_col: str,
    sep: str = "\n\n",
    out: str = "conversation",
) -> DataFrame:
    """A5: per-group concatenation in event order
    (core/extract/ConvoDataExtract.py:189-203).

    Deterministic at any parallelism: collect_list carries the sort keys
    inside a struct, array_sort orders *inside the aggregation result*, then
    the payload is projected out. Never relies on input row order (which a
    shuffle destroys) — SURVEY §7 "hard part (a)".
    """
    sort_struct = F.struct(
        *[F.col(c) for c in order_cols], F.col(text_col).alias("__txt")
    )
    return df.groupBy(group_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(sort_struct)), lambda s: s["__txt"]
            ),
            sep,
        ).alias(out)
    )


def first_row_pick(df: DataFrame, order_col: str, value_cols: list[str]) -> DataFrame:
    """A6: ``iloc[0]`` of a sorted frame (ExtractionLogger.py:81-83) —
    min_by instead of a global sort + limit (no full sort at scale)."""
    return df.select(
        *[
            F.min_by(F.col(c), F.col(order_col)).alias(c)
            for c in value_cols
        ]
    )


def hypertable_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Continuous-aggregate time hierarchy (TimescaleDB's hypertable
    rollup / materialized cagg pattern): hour → day → month buckets
    where every coarser level re-aggregates FROM THE FINER LEVEL, never
    from raw rows. At 100 TB that is the whole point — the raw table is
    scanned exactly once (the hourly pass); the daily pass reads
    |hours| rows and the monthly pass |days| rows, so refreshing coarse
    levels costs metadata-scale work. Sums stay DECIMAL through every
    level (floating-point re-aggregation would drift between levels;
    decimal re-aggregation is exact, which is also what makes the
    union hash-comparable against an oracle computing every level
    straight from raw). Count re-aggregates as sum-of-counts.

    Returns the tagged union: (level ∈ hour/day/month, bucket_ts,
    n_events, total_value). The hourly and daily relations are scoped-
    persisted — the three union branches would otherwise each re-derive
    their chain from raw, tripling the raw scan the operator exists to
    avoid; callers release via ``dedup.release_intermediates`` like the
    other multi-branch operators.
    """
    hourly = df.groupBy(
        F.date_trunc("hour", F.col(ts_col)).alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast(MONEY)).alias("__total"),
    )
    return hypertable_rollup_from_hourly(hourly)


def hypertable_rollup_from_hourly(hourly: DataFrame) -> DataFrame:
    """The coarsening half of ``hypertable_rollup``, split out so an
    INCREMENTALLY-maintained hourly relation can feed it: ``hourly`` is
    (bucket_ts, n_events, __total DECIMAL) — either the raw scan's
    hourly pass (the batch caller above) or the read-time fold of
    streamed per-batch partials (streaming/windows.py:
    stream_hypertable_rollup, TimescaleDB's real-time-view shape).
    Because every level is an exact decimal/long re-aggregation, the two
    producers yield bit-identical unions — which is what lets ONE oracle
    check both."""
    from .dedup import _scoped_persist

    hourly = _scoped_persist(hourly)
    daily = _scoped_persist(
        hourly.groupBy(F.date_trunc("day", F.col("bucket_ts")).alias("bucket_ts"))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("__total").alias("__total"),
        )
    )
    monthly = (
        daily.groupBy(F.date_trunc("month", F.col("bucket_ts")).alias("bucket_ts"))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("__total").alias("__total"),
        )
    )

    def out(level: str, d: DataFrame) -> DataFrame:
        return d.select(
            F.lit(level).alias("level"),
            "bucket_ts",
            "n_events",
            F.round(F.col("__total"), 2).cast("double").alias("total_value"),
        )

    return (
        out("hour", hourly)
        .unionByName(out("day", daily))
        .unionByName(out("month", monthly))
    )


def gap_fill_locf(
    df: DataFrame,
    key_cols: tuple[str, ...],
    ts_col: str,
    bucket_seconds: int,
    value_col: str,
) -> DataFrame:
    """Time-series gap fill (TimescaleDB's ``time_bucket_gapfill`` +
    ``locf``): bucket and sum the series per key, then materialize EVERY
    bucket between each key's first and last observation — missing
    buckets get the last-observation-carried-forward value and
    ``is_gap = true``. The regularization step before any rolling-window
    model over irregular event data.

    Plan at 100 TB: raw rows are touched once by the bucket aggregation
    (map-side combine); everything downstream — per-key bounds, the
    ``sequence``-exploded dense grid, the grid⋈actual join, the LOCF
    window — runs at bucket cardinality (|keys| · |span|/|bucket|),
    orders of magnitude below raw. Sums stay DECIMAL so filled values
    hash-match any engine. Returns (``key_cols``…, bucket_ts, is_gap,
    total_value)."""
    bucket = F.timestamp_seconds(
        (F.unix_timestamp(F.col(ts_col)) / bucket_seconds).cast("long")
        * bucket_seconds
    ).alias("bucket_ts")
    from .dedup import _scoped_persist

    # both the bounds branch and the grid join consume `actual`; persist
    # so the raw scan+aggregate truly runs once (callers release via
    # dedup.release_intermediates, same as hypertable_rollup)
    actual = _scoped_persist(
        df.groupBy(*key_cols, bucket).agg(
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__val")
        )
    )
    bounds = actual.groupBy(*key_cols).agg(
        F.min("bucket_ts").alias("__b0"), F.max("bucket_ts").alias("__b1")
    )
    grid = bounds.select(
        *key_cols,
        F.explode(
            F.expr(f"sequence(__b0, __b1, interval {bucket_seconds} seconds)")
        ).alias("bucket_ts"),
    )
    joined = grid.join(actual, [*key_cols, "bucket_ts"], "left")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        *key_cols,
        "bucket_ts",
        F.col("__val").isNull().alias("is_gap"),
        F.round(F.last("__val", ignorenulls=True).over(w), 6)
        .cast("double")
        .alias("total_value"),
    )


def kmv_sketch_rows(
    df: DataFrame,
    group_cols: tuple[str, ...],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """The kept rows of a KMV (k-minimum-values) distinct-count sketch:
    per group, the ``k`` smallest distinct md5-derived hash fractions of
    ``value_col``. This relation IS the sketch — mergeable by union
    (union two groups' kept rows, re-take the k smallest: exactly how a
    distributed system combines per-partition or per-day sketches), and
    deterministic (md5, no RNG) so an oracle engine reproduces it
    bit-for-bit, unlike HLL-register implementations that differ by
    library. Plan: distinct (group, hash) → per-group bottom-k via
    row_number — one shuffle on the group key, kept size ≤ k·|groups|.
    """
    frac = (
        F.conv(F.md5(F.col(value_col).cast("string")).substr(1, 12), 16, 10)
        .cast("double")
        / F.lit(float(1 << 48))
    )
    from pyspark.sql.window import Window

    # NULL values hash to NULL, which sorts FIRST and would occupy a
    # kept slot while max(h) ignores it — the estimate would divide by
    # the wrong order statistic. Distinct-count semantics ignore NULLs.
    hashed = (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, frac.alias("h"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def kmv_estimate(rows: DataFrame, group_cols: tuple[str, ...], k: int = 64) -> DataFrame:
    """Distinct-count estimate from KMV kept rows: with fewer than ``k``
    kept hashes the count is exact; otherwise (k-1)/h_k — the classic
    KMV estimator (standard error ≈ 1/√(k−2)). Returns
    (group, n_kept, kth_frac, est_distinct)."""
    agg = rows.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("h").alias("kth_frac"),
    )
    est = F.when(F.col("n_kept") < k, F.col("n_kept").cast("double")).otherwise(
        F.lit(float(k - 1)) / F.col("kth_frac")
    )
    return agg.select(
        *group_cols,
        "n_kept",
        F.round("kth_frac", 9).alias("kth_frac"),
        F.round(est, 2).alias("est_distinct"),
    )


def kmv_distinct(
    df: DataFrame,
    group_cols: tuple[str, ...],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """KMV sketch + estimate in one call (see ``kmv_sketch_rows``)."""
    return kmv_estimate(kmv_sketch_rows(df, group_cols, value_col, k), group_cols, k)


# ------------------------------------------------------------ Bloom filter
def _bloom_positions(value: Column, m_bits: int, n_hashes: int) -> Column:
    """Array of ``n_hashes`` bit positions for one value — the same
    deterministic md5-fraction idiom as ``kmv_sketch_rows`` (12 hex chars
    < 2^48, so the conv result is always a positive long and plain ``%``
    is safe), seeded per hash so an oracle engine reproduces every
    position bit-for-bit."""
    return F.array(
        *[
            F.conv(
                F.md5(
                    F.concat(value.cast("string"), F.lit(f"#{i}"))
                ).substr(1, 12),
                16,
                10,
            ).cast("long")
            % m_bits
            for i in range(n_hashes)
        ]
    )


def bloom_build(
    df: DataFrame, value_col: str, m_bits: int = 8192, n_hashes: int = 4
) -> DataFrame:
    """Build a Bloom filter over ``value_col`` as a RELATION of 64-bit
    words: ``(word_idx long, word long)`` — at most ``m_bits/64`` rows,
    broadcastable at any corpus size. NULLs are excluded (membership of
    NULL is undefined, matching distinct-count semantics).

    Mergeable like the KMV sketch: union two filters' rows and
    ``bit_or(word)`` per ``word_idx`` (``bloom_merge``) — per-partition
    or per-day filters combine without rescanning. Plan: one projection
    computing ``n_hashes`` md5s per row, explode to positions, one hash
    aggregation on word_idx; the shuffle carries ≤ m_bits/64 rows.

    The classic use at 100 TB: distill a huge key set (e.g. every doc
    digest already ingested) into a few KB that prunes an incremental
    batch BEFORE the exact anti-join — see ``bloom_membership``.
    """
    pos = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.explode(
                _bloom_positions(F.col(value_col), m_bits, n_hashes)
            ).alias("pos")
        )
    )
    return (
        pos.select(
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """OR together Bloom filters built with the same (m_bits, n_hashes):
    union the word relations, re-``bit_or`` per word."""
    out = filters[0]
    for f in filters[1:]:
        out = out.unionByName(f)
    return out.groupBy("word_idx").agg(F.bit_or("word").alias("word"))


def bloom_membership(
    probe: DataFrame,
    value_col: str,
    bloom: DataFrame,
    m_bits: int = 8192,
    n_hashes: int = 4,
) -> DataFrame:
    """Per distinct probe value, ``might_contain``: true iff every hash
    position's bit is set. NO false negatives (a member value always
    returns true — property-tested); false positives at the standard
    (1 − e^(−kn/m))^k rate. Returns ``(value_col, might_contain)``.

    Plan: distinct probe values → explode positions → BROADCAST join the
    tiny word relation → bool_and per value. Join the result back to the
    probe (or semi-join on ``might_contain`` to shrink an exact
    verification's input — the anti-join prune)."""
    vals = probe.select(value_col).where(F.col(value_col).isNotNull()).distinct()
    pos = vals.select(
        F.col(value_col),
        F.explode(
            _bloom_positions(F.col(value_col), m_bits, n_hashes)
        ).alias("pos"),
    )
    joined = pos.join(
        F.broadcast(bloom),
        (F.col("pos") / 64).cast("long") == F.col("word_idx"),
        "left",
    )
    hit = (
        F.col("word").isNotNull()
        & (
            F.col("word").bitwiseAND(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            )
            != 0
        )
    )
    return joined.groupBy(value_col).agg(
        F.bool_and(hit).alias("might_contain")
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Single-pass data profiler (the Deequ/dbt-style run-summary a
    pipeline publishes next to every load): per column — row count, null
    count, distinct count, and the modal value with its frequency.

    Plan shape: ONE scan explodes each row into (column, value-as-string)
    struct pairs, ONE hash aggregation to (column, value) counts, then
    column-level rollups over that tiny relation — profiling N columns
    costs one corpus pass, not N (the naive per-column loop re-scans the
    table N times at 100 TB). Values compare as strings so one relation
    carries every column's type; tie-break on (count, value) makes the
    modal value deterministic. Returns (column, n_rows, n_null,
    n_distinct, top_value, top_n)."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(c).cast("string").alias("value"),
            )
            for c in cols
        ]
    )
    long = df.select(F.explode(pairs).alias("p")).select("p.*")
    counts = long.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    base = counts.groupBy("column").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(
            F.when(F.col("value").isNull(), F.col("cnt")).otherwise(0)
        ).alias("n_null"),
        F.count(F.when(F.col("value").isNotNull(), 1)).alias("n_distinct"),
    )
    top = (
        counts.where(F.col("value").isNotNull())
        .groupBy("column")
        .agg(F.max(F.struct(F.col("cnt"), F.col("value"))).alias("__t"))
        .select(
            "column",
            F.col("__t.value").alias("top_value"),
            F.col("__t.cnt").alias("top_n"),
        )
    )
    return base.join(top, "column", "left").select(
        "column", "n_rows", "n_null", "n_distinct", "top_value", "top_n"
    )


# expectation kinds accepted by validate_expectations; each is one
# violation-count aggregate, all fused into a single scan
EXPECTATION_KINDS = (
    "not_null", "unique", "min", "max", "between", "values_in",
    "matches", "row_count_between",
)


def validate_expectations(
    df: DataFrame, expectations: list[tuple]
) -> DataFrame:
    """Declarative data-quality gate (the Deequ / Great-Expectations /
    dbt-test shape — the CHECK a pipeline runs before publishing a
    load, where ``profile_columns`` is the run-summary it publishes
    after). Each expectation is a tuple:

      ("not_null",  col)                — no NULLs
      ("unique",    col)                — no duplicated non-null value
      ("min",       col, v)             — every value ≥ v
      ("max",       col, v)             — every value ≤ v
      ("between",   col, lo, hi)        — lo ≤ value ≤ hi (NULLs violate)
      ("values_in", col, (v, ...))      — value ∈ set (NULLs violate)
      ("matches",   col, regex)         — value RLIKE regex (NULLs violate)
      ("row_count_between", lo, hi)     — table cardinality bound

    Plan shape: EVERY check fuses into ONE aggregation over ONE scan —
    violation counts are conditional sums, ``unique`` rides the same
    pass as count(col) − count(distinct col) (Catalyst plans the mixed
    distinct/non-distinct aggregate with a single expand, still one
    source scan) — so a 40-check suite costs one corpus pass at 100 TB,
    not 40. The result is one row per expectation: (check, column,
    violations, n_rows, passed) — violations for range/set/pattern
    checks COUNT NULLs as violations (a NULL neither satisfies ``≥ v``
    nor belongs to a value set; use not_null separately when NULLs are
    legal), and row_count_between reports |count − nearest bound| as
    its violation measure.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    metas: list[tuple[str, str]] = []  # (kind, column) per expectation

    def viol(cond: Column) -> Column:
        # NULL conditions count as violations: coalesce(cond, false);
        # the outer coalesce makes the EMPTY table report 0 violations
        # (sum over zero rows is NULL, and a NULL verdict would
        # quarantine empty replay batches downstream)
        return F.coalesce(
            F.sum(F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)),
            F.lit(0),
        ).cast("long")

    for i, exp in enumerate(expectations):
        kind = exp[0]
        if kind not in EXPECTATION_KINDS:
            raise ValueError(f"unknown expectation kind {kind!r}")
        a = f"__e{i}"
        if kind == "not_null":
            aggs.append(
                F.coalesce(
                    F.sum(F.when(F.col(exp[1]).isNull(), 1).otherwise(0)),
                    F.lit(0),
                ).cast("long").alias(a)
            )
            metas.append((kind, exp[1]))
        elif kind == "unique":
            aggs.append(
                (F.count(F.col(exp[1])) - F.count_distinct(F.col(exp[1])))
                .cast("long").alias(a)
            )
            metas.append((kind, exp[1]))
        elif kind == "min":
            aggs.append(viol(F.col(exp[1]) >= F.lit(exp[2])).alias(a))
            metas.append((kind, exp[1]))
        elif kind == "max":
            aggs.append(viol(F.col(exp[1]) <= F.lit(exp[2])).alias(a))
            metas.append((kind, exp[1]))
        elif kind == "between":
            aggs.append(
                viol(
                    (F.col(exp[1]) >= F.lit(exp[2]))
                    & (F.col(exp[1]) <= F.lit(exp[3]))
                ).alias(a)
            )
            metas.append((kind, exp[1]))
        elif kind == "values_in":
            aggs.append(
                viol(F.col(exp[1]).isin(*exp[2])).alias(a)
            )
            metas.append((kind, exp[1]))
        elif kind == "matches":
            aggs.append(viol(F.col(exp[1]).rlike(exp[2])).alias(a))
            metas.append((kind, exp[1]))
        else:  # row_count_between — resolved against __n after the agg
            aggs.append(F.lit(None).cast("long").alias(a))
            metas.append((f"row_count_between[{exp[1]},{exp[2]}]", ""))

    one = df.agg(*aggs)
    rows = []
    for i, exp in enumerate(expectations):
        kind, col = metas[i]
        a = f"__e{i}"
        if exp[0] == "row_count_between":
            lo, hi = exp[1], exp[2]
            v = F.when(
                F.col("__n") < lo, F.lit(lo) - F.col("__n")
            ).when(
                F.col("__n") > hi, F.col("__n") - F.lit(hi)
            ).otherwise(F.lit(0)).cast("long")
        else:
            v = F.col(a)
        rows.append(
            F.struct(
                F.lit(kind).alias("check"),
                F.lit(col).alias("column"),
                v.alias("violations"),
                F.col("__n").cast("long").alias("n_rows"),
                (v == 0).alias("passed"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def standardize(
    df: DataFrame,
    group_cols: tuple[str, ...],
    value_col: str,
    out_col: str = "zscore",
) -> DataFrame:
    """Per-group z-score feature scaling — the ML-prep normalization pass
    (per-feature / per-segment standardization before distance math or
    model input). Appends ``out_col`` = (x − μ_g) / σ_g rounded to 6
    decimals; σ_g = 0 (constant group — detected via min = max, immune
    to the 6-decimal moment quantization — or singleton) yields NULL.

    Determinism across engines and parallelism: μ and σ derive from
    DECIMAL sums of x and x² (order-independent exact accumulation —
    double summation would drift with partitioning), converted to double
    only for the final scalar division/sqrt, which IEEE rounds
    identically everywhere. Plan: one hash aggregation to the per-group
    stats relation (|groups| rows — broadcast), then a broadcast LEFT
    join back onto the rows (NULL group keys keep their rows, zscore
    NULL — an append-a-column operator must not drop data); the corpus
    shuffles zero times."""
    x = F.col(value_col)
    xd = x.cast("decimal(25,6)")
    stats = df.groupBy(*group_cols).agg(
        F.sum(xd).alias("__s"),
        F.sum((x * x).cast("decimal(30,6)")).alias("__s2"),
        F.count(x).alias("__n"),
        F.min(x).alias("__mn"),
        F.max(x).alias("__mx"),
    )
    n = F.col("__n").cast("double")
    mean = F.col("__s").cast("double") / n
    var = F.col("__s2").cast("double") / n - mean * mean
    std = F.sqrt(F.when((F.col("__mn") < F.col("__mx")) & (var > 0), var))
    enriched = df.join(F.broadcast(stats), list(group_cols), "left")
    return enriched.withColumn(
        out_col, F.round((x - mean) / std, 6)
    ).drop("__s", "__s2", "__n", "__mn", "__mx")


# ----------------------------------------------------- count-min sketch
def _cms_cols(value: Column, width: int, depth: int) -> list[Column]:
    """``depth`` column positions for one value — one md5 per hash row,
    seeded ``#d`` exactly like ``_bloom_positions`` (12 hex chars < 2^48
    keeps the conv result a positive long)."""
    return [
        (
            F.conv(
                F.md5(
                    F.concat(value.cast("string"), F.lit(f"#{d}"))
                ).substr(1, 12),
                16,
                10,
            ).cast("long")
            % width
        )
        for d in range(depth)
    ]


def cms_build(
    df: DataFrame,
    value_col: str,
    width: int = 1024,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch over ``value_col`` as a RELATION
    ``(d int, w long, cnt long)`` — at most ``depth × width`` rows no
    matter the corpus size, so the sketch broadcasts and (like the KMV /
    Bloom relations) merges by union + re-sum per (d, w): per-partition
    or per-day sketches combine without rescanning raw data.

    Plan: one projection computing ``depth`` md5s per row, posexplode to
    (d, w), ONE hash aggregation with map-side partial combine — the
    shuffle carries ≤ depth·width rows per mapper. Deterministic (md5,
    no RNG), so an oracle engine reproduces every cell bit-for-bit.

    The 100 TB use: the sketch is the frequency artifact a RECURRING
    pipeline persists — per-batch sketches merge into corpus-lifetime
    bounds without rescanning history, and candidate sets (a new batch's
    values, a suspect list) probe the broadcast cells without touching
    raw data. Estimates never undercount; overcount is bounded by
    e·N/width with probability 1 − e^(−depth). (Probing EVERY distinct
    value still costs a distinct-cardinality shuffle — see the cost
    note on ``cms_heavy_hitters``.)"""
    w = (
        F.col(weight_col).cast("long") if weight_col is not None else F.lit(1)
    )
    pos = df.where(F.col(value_col).isNotNull()).select(
        F.posexplode(
            F.array(*_cms_cols(F.col(value_col), width, depth))
        ).alias("d", "w"),
        w.alias("wt"),
    )
    return pos.groupBy("d", "w").agg(F.sum("wt").alias("cnt"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketches built with the same (width, depth):
    union the cell relations, re-sum per (d, w)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "w").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    probe: DataFrame,
    value_col: str,
    cms: DataFrame,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Per distinct probe value, the CMS frequency upper bound:
    min over the ``depth`` rows of that value's cell count (a missing
    cell means 0 — the value was never inserted). Returns
    ``(value_col, est_count)``; est_count ≥ true count always
    (property-tested). Plan: distinct probes → posexplode positions →
    BROADCAST join the ≤ depth·width-row sketch → min per value."""
    vals = (
        probe.select(value_col).where(F.col(value_col).isNotNull()).distinct()
    )
    pos = vals.select(
        F.col(value_col),
        F.posexplode(
            F.array(*_cms_cols(F.col(value_col), width, depth))
        ).alias("d", "w"),
    )
    joined = pos.join(F.broadcast(cms), ["d", "w"], "left")
    return joined.groupBy(value_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count")
    )


def cms_heavy_hitters(
    df: DataFrame,
    value_col: str,
    threshold: int,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Heavy hitters via sketch-then-verify: the CMS pass bounds every
    value's count from above; only values whose BOUND clears
    ``threshold`` (a superset of the true heavy hitters — CMS never
    undercounts) are exact-counted, and the exact count filters the
    false positives. Returns ``(value_col, est_count, n_true)`` with
    n_true ≥ threshold.

    Honest cost accounting: probing every corpus value (as here) still
    shuffles at distinct-value cardinality inside ``cms_estimate`` — the
    sketch does NOT beat a plain groupBy count on a one-shot scan. Its
    wins are (a) the exact verification groupBy runs only over the
    semi-join-pruned bound-clearing sliver, (b) the sketch itself is a
    tiny persisted MERGEABLE artifact: a recurring pipeline stores one
    per batch and unions them (``cms_merge``) to bound corpus-lifetime
    frequencies without rescanning history, probing only a candidate set
    (e.g. the new batch's values) instead of the full vocabulary."""
    from .dedup import _scoped_persist

    sketch = cms_build(df, value_col, width, depth)
    # `est` feeds both the semi-join prune and the final attach; persist
    # so the sketch + estimate lineage executes once (callers release
    # via dedup.release_intermediates)
    est = _scoped_persist(
        cms_estimate(df, value_col, sketch, width, depth).where(
            F.col("est_count") >= threshold
        )
    )
    pruned = df.join(F.broadcast(est), value_col, "semi")
    exact = pruned.groupBy(value_col).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    return (
        est.join(exact, value_col)
        .where(F.col("n_true") >= threshold)
        .select(value_col, "est_count", "n_true")
    )


# ------------------------------------------------- histogram quantile sketch
def value_histogram(
    df: DataFrame,
    group_cols: tuple[str, ...],
    value_col: str,
    num_bins: int = 128,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Fixed-bin histogram of ``value_col`` per group: ``(group..., bin,
    cnt)`` plus the bin edges ``(group..., mn, mx)`` it was built with
    (returned as columns so sketches stay self-describing). Deterministic
    — bin = least(floor((v-mn)/(mx-mn)*B), B-1), pure IEEE double math an
    oracle engine reproduces exactly — and MERGEABLE like the KMV/Bloom
    relations: histograms built over the SAME edges add their counts
    (union + sum per bin; merge-equals-whole is test-asserted). Pass
    ``edges`` (a (group, mn, mx) relation, e.g. from the full corpus or a
    previous day) to share binning across builds; by default edges come
    from one narrow min/max aggregation of ``df`` itself.

    Plan: stats agg (narrow) → broadcast join → one hash aggregation on
    (group, bin): ≤ num_bins·|groups| rows shuffle, nothing wider."""
    g = list(group_cols)
    v = F.col(value_col).cast("double")
    df = df.where(v.isNotNull())  # rank semantics ignore NULLs
    if edges is None:
        edges = df.groupBy(*g).agg(
            F.min(v).alias("mn"), F.max(v).alias("mx")
        )
    binned = df.join(F.broadcast(edges), on=g).select(
        *g,
        F.col("mn"),
        F.col("mx"),
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (v - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * F.lit(num_bins)
                ),
                F.lit(num_bins - 1),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    return binned.groupBy(*g, "mn", "mx", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def histogram_quantiles(
    hist: DataFrame,
    group_cols: tuple[str, ...],
    quantiles: tuple[float, ...] = (0.5, 0.95),
    num_bins: int = 128,
) -> DataFrame:
    """Quantile estimates from ``value_histogram`` rows: for each q, the
    bin whose cumulative range contains rank q·total, linearly
    interpolated within the bin — error ≤ (mx−mn)/num_bins, exact in the
    bin edges. Returns ``(group..., q, est)`` with ``est`` rounded to 4
    decimals (both engines run the identical double expression, the
    round is belt-and-braces). The cumulative window runs over ≤
    num_bins·|groups| histogram rows — never the data."""
    from pyspark.sql.window import Window

    g = list(group_cols)
    w = Window.partitionBy(*g).orderBy("bin")
    wt = Window.partitionBy(*g)
    c = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("cum_before", F.col("cum") - F.col("cnt"))
        .withColumn("total", F.sum("cnt").over(wt))
    )
    q_df = c.crossJoin(
        F.broadcast(
            local_table(
                c.sparkSession, [(float(q),) for q in quantiles], "q double"
            )
        )
    )
    target = F.col("q") * F.col("total")
    width = (F.col("mx") - F.col("mn")) / F.lit(num_bins)
    est = F.col("mn") + (
        F.col("bin")
        + (target - F.col("cum_before")) / F.col("cnt")
    ) * width
    return (
        q_df.where((F.col("cum") >= target) & (F.col("cum_before") < target))
        .select(
            *g,
            "q",
            F.round(F.least(est, F.col("mx")), 4).alias("est"),
        )
    )
