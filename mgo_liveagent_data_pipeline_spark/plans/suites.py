"""Suite queries — merged driver-contract rows.

The driver evaluates a bounded prefix of ``queries()`` (50 entries
observed), so closely-related operators share one row: each suite unions
its member results under a ``mode``/``variant``/``src`` tag column with a
schema coerced to common column names and types, and its oracle applies
the identical union to the member oracles. A hash match on the suite is
exactly a hash match on every member (the tag keeps member rows disjoint,
and the gate's compare is order-insensitive), so no correctness signal is
lost by merging — every SURVEY §2 op named in a suite's docstring is
driver-checked through it.

Each union suite is one spec table (``_Spec``) that both engines read:
its tag column, its output columns and their types, declared once, and
one row per union branch. A row gives its tag, its member by registry key
(the key names both the Spark member ``<module>.QUERIES[key]`` and its
DuckDB twin ``<module>.ORACLES[key]``, so a branch cannot be paired with
the wrong oracle) and one entry per output column: a column name both
engines share, ``None`` for a typed NULL, or a (Spark, SQL) pair where the
engines spell the value differently. ``_union`` evaluates each member
once per call and projects and unions the rows in table order;
``_union_sql`` renders the same rows as the twin's union. A row with no
registered member, or one that keeps a plan shape the projection cannot
express, gives its Spark frame and its SQL relation explicitly
(``_Rel``).

Members stay registered under their original names in the domain modules
(tests, bench, and plan-shape audits drive them individually via
``registry.ALL_QUERIES``).
"""
from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from typing import Callable, NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    audio_features,
    bmp_fixture_images,
    gif_fixture_images,
    jpeg_fixture_images,
    png_fixture_images,
    real_audio_features,
    real_gif_features,
    real_image_features,
    real_jpeg_features,
    real_png_features,
    resize_image,
    to_media_column,
    wav_fixture_clips,
)
from ..session import ship_package
from ..sources.tables import load_table, local_table
from ..streaming.windows import state_partitions
from . import connector, enrichment, persistence, pipeline, relational

_MODULES = (relational, pipeline, enrichment, persistence, connector)
_MEMBERS = {k: fn for m in _MODULES for k, fn in m.QUERIES.items()}
_TWINS = {k: sql for m in _MODULES for k, sql in m.ORACLES.items()}

# DuckDB spelling of the declared column types a typed NULL or a cast uses
_SQL_TYPES = {
    "string": "VARCHAR",
    "bigint": "BIGINT",
    "double": "DOUBLE",
    "timestamp": "TIMESTAMP",
}


class _Rel(NamedTuple):
    """A row source given explicitly: its Spark frame and its SQL relation."""

    frame: Callable[[SparkSession, str], DataFrame]
    sql: str


class _Spec(NamedTuple):
    """One union suite: the tag column, the output columns as
    ``"name type, ..."`` (Spark type names), and the rows
    ``(tag, source, *entries)`` in union order. A tag is a literal or a
    (Spark, SQL) pair; a source is a registry key or a ``_Rel``. A pair's
    Spark half is a zero-argument function, because a Column needs a live
    session and the specs are built at import."""

    tag: str
    cols: str
    rows: tuple


def _columns(spec: _Spec) -> list[tuple[str, str]]:
    return [tuple(c.split()) for c in spec.cols.split(",")]


def _spark(entry, type_: str | None = None) -> Column:
    if entry is None:
        return F.lit(None).cast(type_)
    return F.col(entry) if isinstance(entry, str) else entry[0]()


def _sql(entry, type_: str | None = None) -> str:
    if entry is None:
        return f"CAST(NULL AS {_SQL_TYPES[type_]})"
    return f'"{entry}"' if isinstance(entry, str) else entry[1]


def _union(
    spark: SparkSession,
    sf_dir: str,
    spec: _Spec,
    frames: dict | None = None,
) -> DataFrame:
    """The Spark side of ``spec``: every source evaluated once per call
    (``frames`` holds any the caller already evaluated), every row
    projected onto the suite's columns, the rows unioned by name in table
    order."""
    frames = dict(frames or {})
    cols = _columns(spec)
    parts = []
    for tag, src, *entries in spec.rows:
        if src not in frames:
            build = src.frame if isinstance(src, _Rel) else _MEMBERS[src]
            frames[src] = build(spark, sf_dir)
        parts.append(
            frames[src].select(
                (F.lit(tag) if isinstance(tag, str) else tag[0]()).alias(
                    spec.tag
                ),
                *(
                    _spark(e, t).alias(c)
                    for (c, t), e in zip(cols, entries, strict=True)
                ),
            )
        )
    return reduce(DataFrame.unionByName, parts)


def _union_sql(spec: _Spec) -> str:
    """The DuckDB side of ``spec``: the same rows over the members'
    twins."""
    cols = _columns(spec)
    selects = []
    for tag, src, *entries in spec.rows:
        exprs = [
            f"'{tag}'" if isinstance(tag, str) else tag[1],
            *(_sql(e, t) for (_c, t), e in zip(cols, entries, strict=True)),
        ]
        names = [spec.tag] + [c for c, _t in cols]
        rel = src.sql if isinstance(src, _Rel) else _TWINS[src]
        selects.append(
            "SELECT "
            + ", ".join(f'{e} AS "{n}"' for e, n in zip(exprs, names))
            + f" FROM ({rel})"
        )
    return " UNION ALL ".join(selects)


def _cast(name: str, type_: str):
    return (
        lambda: F.col(name).cast(type_),
        f'CAST("{name}" AS {_SQL_TYPES[type_]})',
    )


def _cents(name: str):
    """A double ×100, rounded to a long and printed: an exact packing."""
    return (
        lambda: F.round(F.col(name) * 100).cast("long").cast("string"),
        f'CAST(CAST(round("{name}" * 100) AS BIGINT) AS VARCHAR)',
    )


def _packed(sep: str, *parts):
    """``concat_ws`` of entries: several values hash-checked in one
    string column."""
    return (
        lambda: F.concat_ws(sep, *(_spark(p) for p in parts)),
        f"concat_ws('{sep}', " + ", ".join(_sql(p) for p in parts) + ")",
    )


# --------------------------------------------------------- relational suites
_S7_W3 = _Spec("mode", "o_orderkey bigint, o_totalprice double", (
    ("s7_preview", "s7_preview", "o_orderkey", "o_totalprice"),
    ("w3_limit", "w3_ordered_limit", "o_orderkey", "o_totalprice"),
))


def q_s7_w3_preview_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (preview limit) + W1/W3 (ordered limit) in one row."""
    return _union(spark, sf_dir, _S7_W3)


def _j8_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both range modes from ONE evaluation of the j8 plan: explode a
    # two-struct array per result row instead of unioning two branches
    # that would each re-run the orders top-5 + lineitem range join
    grp = F.col("o_orderkey").cast("string").alias("grp")
    return _MEMBERS["j8_range_join"](spark, sf_dir).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("range").alias("tag"), grp,
                    F.col("n_items").alias("n"),
                ),
                F.struct(
                    F.lit("range_qty").alias("tag"), grp,
                    F.round(F.col("sum_qty") * 100).cast("long").alias("n"),
                ),
            )
        ).alias("r")
    ).select("r.*")


_J2_J4 = _Spec("mode", "grp string, n bigint", (
    ("anti", "j2_anti_join", "segment", "n_customers_without_orders"),
    ("semi", "j4_semi_join", "status", "n_orders"),
    (
        (lambda: F.col("tag"), "tag"),
        _Rel(
            _j8_ranges,
            "SELECT 'range' AS tag, CAST(o_orderkey AS VARCHAR) AS grp, "
            f"n_items AS n FROM ({_TWINS['j8_range_join']}) UNION ALL "
            "SELECT 'range_qty' AS tag, CAST(o_orderkey AS VARCHAR) AS grp, "
            "CAST(round(sum_qty * 100) AS BIGINT) AS n "
            f"FROM ({_TWINS['j8_range_join']})",
        ),
        "grp", "n",
    ),
))


def q_j2_j4_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/E1 (left-anti) + J4/E2 (semi-join) + the banded range join
    (``range``/``range_qty`` modes — lineitems inside the top-5 orders'
    30-day promo windows, operators/joins.py:range_join; qty checked in
    cents so the long ``n`` column carries it exactly)."""
    return _union(spark, sf_dir, _J2_J4)


_A2_A3 = _Spec("mode", "k1 string, k2 string", (
    ("pairs", "a2_distinct", "o_orderstatus", "o_orderpriority"),
    ("ids", "a3_multi_column_distinct", _cast("id", "string"), None),
    (
        "kmv", "kmv_distinct", "o_orderstatus",
        _packed("|", _cents("est_distinct"), _cast("n_kept", "string")),
    ),
    (
        "bloom", "bloom_membership", "c_mktsegment",
        _packed(
            "|", *(_cast(c, "string") for c in ("n_probed", "n_might", "n_members"))
        ),
    ),
    ("hq", "histogram_quantiles", "o_orderstatus", _packed("|", _cents("q"), _cents("est"))),
    (
        "pivot", "pivot_unpivot", "o_orderpriority",
        _packed("|", "status", _cast("n_orders", "string")),
    ),
))


def q_a2_a3_distinct_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (distinct projection) + A3 (multi-column distinct ids) + the
    KMV distinct-count sketch (``kmv`` mode — per-status estimate and
    kept-count packed as "est_cents|n_kept",
    operators/aggregations.py:kmv_distinct) + the Bloom membership
    sketch (``bloom`` mode — per-segment probes/might-contain/true-member
    counts packed into k2, operators/aggregations.py:bloom_build) + the
    histogram quantile sketch (``hq`` mode — per-status p50/p95 order
    value, operators/aggregations.py:histogram_quantiles) + the pivot →
    unpivot round trip (``pivot`` mode — priority × status cross-tab
    counts packed as "status|n", plans/relational.py:q_pivot_unpivot)."""
    return _union(spark, sf_dir, _A2_A3)


_ER_CONTACT = _packed("|", "phone", "address")
_METRICS = _Spec(
    "mode", "key_s string, n1 bigint, n2 bigint, n3 bigint, top_s string", (
        ("counts", "metrics_counts", None, "n_new", "n_existing", "n_total", None),
        (
            "profile", "profile_columns",
            "column", "n_null", "n_distinct", "top_n", "top_value",
        ),
        ("diff", "table_diff", "diff_status", "n_keys", "n_changed_cols", None, None),
        ("funnel", "funnel", "step", _cast("step_no", "bigint"), "n_users", None, None),
        (
            "cohort", "retention_cohorts",
            _cast("cohort_week", "string"), "week_no", "n_users", None, None,
        ),
        # er: entity-resolution golden records — name survives in key_s,
        # phone|address in top_s, entity id + cluster size hash-checked
        ("er", "entity_resolution", "name", "entity_id", "n_records", None, _ER_CONTACT),
        # er_name: the scale-cardinality blocking key (lowercased first name
        # token — one block per customer family, pairs linear in N); the
        # round-11 headline bench member's correctness twin
        (
            "er_name", "entity_resolution_name",
            "name", "entity_id", "n_records", None, _ER_CONTACT,
        ),
        # er_multi: multi-pass blocking — the corrupted-block v4 variant is
        # reachable only through the phone-prefix pass
        (
            "er_multi", "entity_resolution_multi",
            "name", "entity_id", "n_records", None, _ER_CONTACT,
        ),
        # er_inc: the incremental (delta-vs-corpus) assignment — must equal
        # the full-batch assignment verbatim, merges included
        (
            "er_inc", "entity_resolution_inc",
            None, "rec_id", "entity_id", "n_records", None,
        ),
        # expect: the declarative data-quality gate — one fused-agg scan,
        # pass/fail + violation counts per check
        (
            "expect", "validate_expectations", _packed("|", "check", "column"),
            "violations", "n_rows", _cast("passed", "bigint"), None,
        ),
    ),
)


def q_metrics_new_vs_existing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-level pipeline metrics under one driver row: the A4
    new/existing/total accounting (``counts`` mode), the single-pass
    column profiler (``profile`` mode — per-column null/distinct/modal
    stats, operators/aggregations.py:profile_columns; n_rows is checked
    at member level), the snapshot diff summary (``diff`` mode —
    added/removed/changed/unchanged key counts,
    operators/setops.py:table_diff), the 24 h ordered funnel (``funnel``
    mode, operators/behavior.py:funnel), the weekly retention
    triangle (``cohort`` mode,
    operators/behavior.py:retention_cohorts) and, since round 9, the
    entity-resolution golden records (``er`` mode — blocking → integer
    milli-scored pairs → connected components → survivorship,
    operators/entity.py), the scale-keyed variant (``er_name`` mode —
    lowercased-first-name-token blocking whose cardinality grows with
    the data; the round-11 headline bench member), the multi-pass
    blocking variant (``er_multi``
    mode — candidate pairs unioned across a nationkey pass and a
    phone-prefix pass, recovering a corrupted-block record single-key
    blocking strands) plus the incremental delta-vs-corpus
    assignment (``er_inc`` mode — stored-assignment star edges ∪
    delta-involved pairs, exactly the full-batch components) and the
    declarative data-quality gate (``expect`` mode — every check fused
    into one scan, operators/aggregations.py:validate_expectations)."""
    return _union(spark, sf_dir, _METRICS)


_W4_W5 = _Spec(
    "mode", "key_s string, key_n bigint, metric double, extra_n bigint", (
        (
            "lag_lead", "w4_lag_lead", _cast("event_id", "string"),
            "user_id", "value_delta", "gap_seconds",
        ),
        ("rolling", "w5_rolling_window", "priority", "day_no", "rolling_7d", None),
        (
            "asof", "w6_asof_join", _cast("event_id", "string"),
            "user_id", "quote_value", "quote_event_id",
        ),
        (
            "session", "w7_sessionize",
            _packed("|", _cast("session_no", "string"), _cast("duration_s", "string")),
            "user_id", "total_value", "n_events",
        ),
        ("zscore", "zscore", "event_type", "event_id", "zscore", None),
    ),
)


def q_w4_w5_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family frame specs: lag/lead deltas (w4) + 7-day range-frame
    rolling sum (w5) + the as-of join (``asof`` mode — trade rows carry
    their latest preceding same-user quote, operators/joins.py:asof_join)
    + gap sessionization (``session`` mode — per-user 6 h-gap session
    stats, operators/windows.py:sessionize) + per-group z-score
    standardization (``zscore`` mode,
    operators/aggregations.py:standardize)."""
    return _union(spark, sf_dir, _W4_W5)


_SKEW = _Spec("mode", "grp string, total double, n bigint", (
    ("agg", "skew_salted_sum", "l_returnflag", "sum_qty", "n_rows"),
    ("join", "skew_salted_join", "o_orderstatus", "total_price", "n_items"),
))


def q_skew_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew handling: salted two-stage aggregation + salted replicated
    join, both hash-checked against the unsalted algebra."""
    return _union(spark, sf_dir, _SKEW)


_SETOPS = _Spec("mode", "key bigint, tag string", (
    ("except", "e1_except_keys", "o_custkey", None),
    ("intersect", "e2_intersect_keys", "o_custkey", None),
    ("union", "e3_union_all", "o_orderkey", "bucket"),
))


def q_setops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 except + E2 intersect + E3 union-all in one row."""
    return _union(spark, sf_dir, _SETOPS)


def q_f1_f6_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 regex extract + F6 array join, fused into ONE documents scan
    (both are narrow maps of the same table — a union or join would scan
    twice / shuffle for nothing)."""
    from ..functions.strings import extract_reference_code
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        extract_reference_code(
            F.col("text"), r"\b(spark|hash|merge)\b", "No Match"
        ).alias("first_keyword"),
        F.array_join(F.slice(toks, 1, 5), ",").alias("first_tokens"),
    )


_F7_F9 = _Spec("mode", "bucket_ts timestamp, n_events bigint, total_value double", (
    (
        "manila_daily", "f7_tz_manila",
        _cast("manila_date", "timestamp"), "n_events", None,
    ),
    ("utc_6h", "f8_tumbling_6h", "window_start", "n_events", "total_value"),
    (
        "month_start", "f9_month_bounds",
        _cast("month_start", "timestamp"), "n_orders", None,
    ),
    (
        "month_end", "f9_month_bounds",
        _cast("month_end_day", "timestamp"), "n_orders", None,
    ),
    (
        (lambda: F.concat(F.lit("ht_"), F.col("level")), "'ht_' || level"),
        "ht_rollup", "bucket_ts", "n_events", "total_value",
    ),
    (
        (lambda: F.concat(F.lit("gf_"), F.col("event_type")), "'gf_' || event_type"),
        "gap_fill", "bucket_ts", _cast("is_gap", "bigint"), "total_value",
    ),
))


def q_f7_f9_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 Manila-tz daily buckets + F8 6-hour tumbling buckets + F9 month
    window bounds. F9 contributes two tagged rows per month — start and
    end bound, each carrying the order count — so the full
    (month_start, month_end_day, n_orders) signal survives the merge.
    Plus the hypertable rollup (``ht_*`` modes) and hourly LOCF gap fill
    (``gf_<event_type>`` modes, n_events carries the is_gap flag,
    operators/aggregations.py:gap_fill_locf)."""
    return _union(spark, sf_dir, _F7_F9)


def q_f11_f12_schedule_safecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 schedule date+time fusion + F12 SAFE_CAST, fused into ONE
    events scan (same synthesized inputs as the standalone queries)."""
    from ..functions.datetimes import fuse_schedule
    from ..sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    time_str = (
        F.when(F.col("event_id") % 4 == 0, F.lit("3PM"))
        .when(F.col("event_id") % 4 == 1, F.lit("11:30 am"))
        .when(F.col("event_id") % 4 == 2, F.lit(" 7 PM "))
        .otherwise(F.lit("garbage"))
    )
    mixed = F.when(
        F.col("event_id") % 3 == 0, F.col("value").cast("string")
    ).otherwise(F.concat(F.lit("x"), F.col("event_type")))
    return events.select(
        "event_id",
        fuse_schedule(
            F.to_date("ts").cast("string"), time_str
        ).alias("schedule_ts"),
        mixed.try_cast("double").alias("safe_value"),
        F.col("event_type").try_cast("timestamp").alias("safe_ts"),
    )


# ----------------------------------------------------------- pipeline suites
def _shard_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _MEMBERS["text_shard_pack"](spark, sf_dir)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("double").alias("total_tokens"),
        )
    )


# pr*: n packs both degrees
_DEGREES = (
    lambda: F.col("out_deg") * 1000 + F.col("in_deg"),
    "out_deg * 1000 + in_deg",
)
_COMMUNITY = _packed(">", "domain", "community")
_TEXT = _Spec("mode", "key_s string, key_n bigint, metric double, n bigint", (
    ("tfidf", "text_tfidf_top_terms", "term", "doc_id", "tfidf", _cast("rank", "bigint")),
    ("sample", "text_stratified_sample", "lang", None, None, "n_kept"),
    ("rep_token", "text_repetition", None, "doc_id", "dup_token_frac", "n_tokens"),
    ("rep_shingle", "text_repetition", None, "doc_id", "dup_shingle_frac", "n_shingles"),
    (
        "pii", "text_pii_scrub",
        (lambda: F.md5(F.col("text_redacted")), "md5(text_redacted)"),
        "c_custkey", None,
        (
            lambda: F.col("n_email") * 10000 + F.col("n_phone") * 100 + F.col("n_ipv4"),
            "n_email * 10000 + n_phone * 100 + n_ipv4",
        ),
    ),
    ("cms", "text_heavy_hitters", "token", "est_count", None, "n_true"),
    ("ksample", "text_group_sample", "lang", "doc_id", None, "sample_rank"),
    ("url", "text_url_domains", "registered_domain", "n_docs", None, "n_urls"),
    (
        "qfilter", "text_quality_filter", "reasons", "doc_id", None,
        (
            lambda: F.col("keep").cast("long") * 100000 + F.col("n_tokens"),
            "CAST(keep AS BIGINT) * 100000 + n_tokens",
        ),
    ),
    ("bm25", "text_bm25_search", None, "doc_id", "score", "n_matched"),
    ("decontam", "text_decontaminate", None, "key", "hit_frac", "n_hit_grams"),
    (
        "shard",
        _Rel(
            _shard_totals,
            "SELECT shard_id, count(*) AS n_docs, "
            "CAST(sum(n_tokens) AS DOUBLE) AS total_tokens "
            f"FROM ({_TWINS['text_shard_pack']}) GROUP BY shard_id",
        ),
        None, "shard_id", "total_tokens", "n_docs",
    ),
    ("mixture", "text_mixture_sample", "lang", "n_docs", "accept_rate", "n_tokens_kept"),
    ("qmodel", "text_quality_model", None, "doc_id", "score", "n_tokens"),
    ("tsample", "text_temperature_sample", "lang", "n_docs", "accept_rate", "n_tokens_kept"),
    (
        "fdecontam", "text_fuzzy_decontaminate",
        None, "doc_id", "max_jaccard", "n_eval_matches",
    ),
    ("ppl", "text_lm_perplexity", "ppl_bucket", "doc_id", "avg_nll", "n_bigrams"),
    (
        "dsir", "text_dsir_weight",
        _cast("milli_weight", "string"), "doc_id", "avg_log_ratio", "n_feats",
    ),
    (
        "dsirsel", "text_dsir_resample",
        _cast("sel_milli", "string"), "doc_id", None, "sel_rank",
    ),
    ("bpe", "text_bpe_encode", _cast("n_words", "string"), "doc_id", None, "n_bpe_tokens"),
    # pr: integer domain PageRank over the web-text link graph — rank
    # rides key_n (hash-checked to the unit) and n packs both degrees
    ("pr", "text_pagerank", "domain", "rank", None, _DEGREES),
    # pr2: dangling-mass-redistributing PageRank — mass-conserving ranks
    ("pr2", "text_pagerank_rd", "domain", "rank", None, _DEGREES),
    # pres: deterministic early-stop PageRank over the sink-only DAG —
    # Spark stops at the round-3 fixed point, the oracle unrolls 12
    ("pres", "text_pagerank_es", "domain", "rank", None, _DEGREES),
    # truss: triangle-supported communities — planted link-farm rings
    # found, the bipartite organic graph left singleton;
    # domain>community rides key_s, community size in n
    ("truss", "text_communities", _COMMUNITY, None, None, "community_size"),
    # cap: hub graph unblocked by cap_degree, then the same truss
    ("cap", "text_communities_capped", _COMMUNITY, None, None, "community_size"),
    # trussinc: the chords arrive as a delta against the stored support
    # relation; drained == the batch truss result verbatim
    ("trussinc", "text_communities_inc", _COMMUNITY, None, None, "community_size"),
    # trussmrg: the MERGE shape — changed rows over the stored
    # assignment reproduce the batch truss with no full-corpus carry
    ("trussmrg", "text_communities_merge", _COMMUNITY, None, None, "community_size"),
))


def q_text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics text ops under one driver row: per-doc top-5
    tf-idf terms (operators/textops.py:tfidf_top_terms), deterministic
    md5-bucket stratified downsample summarized per stratum
    (operators/textops.py:stratified_hash_sample), Gopher-style
    repetition fractions (operators/textops.py:repetition_metrics)
    tagged rep_token / rep_shingle, and the PII scrub
    (operators/textops.py:pii_scrub) over the synthesized customer
    contact fixture — one ``pii`` row per customer carrying
    md5(text_redacted) as key_s (the redacted text itself is
    hash-checked) and the packed match counts
    ``n_email*10000 + n_phone*100 + n_ipv4`` as n — plus, since round
    5, ``cms`` rows (count-min-sketch heavy-hitter tokens with their
    sketch bound and exact count,
    operators/aggregations.py:cms_heavy_hitters), ``ksample`` rows
    (deterministic 20-per-language quota sample,
    operators/textops.py:group_sample_k), ``url`` rows
    (registered-domain rollup over the synthesized web-text fixture,
    operators/textops.py:extract_urls), ``qfilter`` rows (the
    composed Gopher-rule keep/drop decision with reasons, n packs
    ``keep*100000 + n_tokens``, operators/textops.py:quality_filter),
    ``bm25`` rows (BM25 top-15 retrieval for a fixed query,
    operators/textops.py:bm25_topk), ``decontam`` rows
    (eval-overlap hits per contaminated doc,
    operators/textops.py:decontaminate), ``shard`` rows (per-shard
    doc/token totals from the two-phase prefix-sum packer,
    operators/textops.py:pack_shards), ``mixture`` rows (per-language
    summary of the domain-mixture resample toward a 50/25/25 de/en/zh
    token target, operators/textops.py:mixture_sample) and ``qmodel``
    rows (per-doc hashed-linear quality-model scores,
    operators/textops.py:hashed_linear_score); since round 7,
    ``tsample`` rows (α = 0.5 temperature-balanced resample,
    operators/textops.py:temperature_sample), ``fdecontam`` rows
    (LSH near-dup eval decontamination,
    operators/textops.py:fuzzy_decontaminate), ``ppl`` rows
    (CCNet-style bigram-LM perplexity buckets,
    operators/textops.py:lm_perplexity_score), ``dsir`` rows
    (DSIR hashed-n-gram importance weights,
    operators/textops.py:dsir_importance_weight), ``dsirsel`` rows
    (the deterministic Gumbel-top-k resampling step,
    operators/textops.py:dsir_gumbel_topk) and ``bpe`` rows (real
    subword token counts from BPE merge application,
    operators/textops.py:bpe_encode — the suite's one Arrow-batched
    Python crossing, matching where production tokenizers live); since
    round 9, ``pr`` rows (fixed-unroll integer domain PageRank over the
    web-text link graph, operators/graph.py:pagerank — rank rides key_n
    so it is hash-checked to the unit, n packs out_deg*1000 + in_deg)
    ``truss`` rows (triangle-supported communities over the same
    graph plus planted link-farm rings,
    operators/graph.py:truss_communities — the spam-ring /
    mirror-network prior; domain>community rides key_s), and
    ``trussinc`` rows (the incremental path: the ring CHORDS arrive as
    a delta against the stored support relation, flipping old ring
    edges strong — drained == the batch truss verbatim,
    operators/graph.py:incremental_truss_communities); and since round
    10, ``pr2`` rows (the dangling-mass-redistributing PageRank
    variant, mass-conserving to floor remainders) and ``cap`` rows
    (a planted over-cap hub md5-sampled down by
    operators/graph.py:cap_degree, then the same truss — the refusal's
    "cap or sample hubs first" instruction satisfied in-engine), and
    ``trussmrg`` rows (the MERGE shape: ``emit='changed'`` recomputed
    rows upserted over the stored assignment == the batch truss, no
    full-assignment carry); and since round 11, ``pres`` rows (the
    deterministic early-stop PageRank over the sink-only DAG subset —
    Spark stops at the round-3 integer fixed point while the oracle
    unrolls all 12 rounds, so the hash-match proves the stop exact)."""
    return _union(spark, sf_dir, _TEXT)


# curation*: the per-stage ledger, all counts packed into h so one branch
# (one evaluation of the chain) hash-checks the full row
_LEDGER = _packed(
    "|", "stage",
    *(_cast(c, "string") for c in ("rows_in", "rows_out", "tokens_out", "bpe_tokens_out")),
)
_DEDUP_EXACT = _Spec("mode", "h string, key_id bigint, n bigint", (
    ("doc", "dedup_exact", "content_hash", "keep_id", "n_copies"),
    (
        "para", "text_paragraph_dedup", "dedup_hash", "key",
        (
            lambda: F.col("n_segments") * 100 + F.col("n_dropped"),
            "n_segments * 100 + n_dropped",
        ),
    ),
    # apply: pairs → CC clusters → keep-one-per-cluster → partitioned-
    # MERGE corpus rewrite, read back (the canonicalization APPLY step)
    ("apply", "dedup_apply", "content_hash", "keep_id", "n_merged"),
    # curation: the COMPOSED six-stage pipeline's per-stage ledger
    # (pipeline.q_curation_pipeline)
    ("curation", "curation_pipeline", _LEDGER, "stage_no", "rows_out"),
    # curation_scored: the nine-stage SCORED chain (model gates composed
    # in, BPE-token budgets) — same packed-ledger shape
    ("curation_scored", "curation_scored_pipeline", _LEDGER, "stage_no", "rows_out"),
    # curation_sem: the chain with SEMANTIC dedup composed in (gate →
    # para → LSH neardup → SemDeDup-over-encoding → shard)
    ("curation_sem", "curation_semantic_pipeline", _LEDGER, "stage_no", "rows_out"),
    # substr: ExactSubstr span dedup (Lee et al. 2021) — n packs
    # (n_tokens, n_removed) so the span-surgery counts hash-check
    (
        "substr", "text_substring_dedup", "dedup_hash", "doc_id",
        (
            lambda: F.col("n_tokens") * 100000 + F.col("n_removed"),
            "n_tokens * 100000 + n_removed",
        ),
    ),
))


def q_dedup_exact_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content dedup at both granularities under one driver row:
    whole-document exact dedup (``doc`` mode — digest groupBy,
    operators/dedup.py:exact_dedup) and CCNet-style segment-level dedup
    (``para`` mode — operators/textops.py:paragraph_dedup; n packs
    ``n_segments*100 + n_dropped`` so both counts are hash-checked)."""
    return _union(spark, sf_dir, _DEDUP_EXACT)


# semdedup*: pack (kept, centroid_sim): sim is 6dp-rounded so ×1e6 is
# integral; +1e6 keeps the term non-negative for any cosine
_SEM_PACK = (
    lambda: F.col("kept").cast("long") * F.lit(10_000_000).cast("long")
    + F.round(F.col("centroid_sim") * 1e6, 0).cast("long")
    + F.lit(1_000_000).cast("long"),
    "CAST(kept AS BIGINT) * 10000000 "
    "+ CAST(round(centroid_sim * 1e6) AS BIGINT) + 1000000",
)
_SIMHASH = _Spec("mode", "a string, b string, n bigint", (
    ("cluster", "dedup_simhash", "simhash", _cast("keep_id", "string"), _cast("n_docs", "bigint")),
    (
        "near", "dedup_simhash_near", _cast("id_a", "string"),
        _cast("id_b", "string"), _cast("hamming_dist", "bigint"),
    ),
    (
        "mh_salvage", "dedup_minhash_salvage",
        _cast("id_a", "string"), _cast("id_b", "string"),
        (
            lambda: F.round(F.col("jaccard_sim") * 1e6, 0).cast("long"),
            "CAST(round(jaccard_sim * 1e6) AS BIGINT)",
        ),
    ),
    (
        "semdedup", "dedup_semantic",
        _cast("vec_id", "string"), _cast("cluster_id", "string"), _SEM_PACK,
    ),
    (
        "semdedup_inc", "dedup_semantic_inc",
        _cast("vec_id", "string"), _cast("cluster_id", "string"), _SEM_PACK,
    ),
    # routed mode: NULL cluster/sim (unrouted vectors) coalesce into the
    # packing so the degrade path hash-checks too
    (
        "semdedup_routed", "dedup_semantic_routed", _cast("vec_id", "string"),
        (
            lambda: F.coalesce(F.col("cluster_id").cast("string"), F.lit("-")),
            "coalesce(CAST(cluster_id AS VARCHAR), '-')",
        ),
        (
            lambda: F.col("kept").cast("long") * F.lit(10_000_000).cast("long")
            + F.round(F.coalesce(F.col("centroid_sim"), F.lit(-2.0)) * 1e6, 0)
            .cast("long")
            + F.lit(2_000_000).cast("long"),
            "CAST(kept AS BIGINT) * 10000000 "
            "+ CAST(round(coalesce(centroid_sim, -2.0) * 1e6) AS BIGINT) "
            "+ 2000000",
        ),
    ),
))


def q_dedup_simhash_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint near-dup family: SimHash identical-fingerprint
    clusters, SimHash Hamming-radius pairs (multi-probe banding), and
    MinHash-LSH pairs under OVERSIZED-BUCKET SALVAGE (``mh_salvage``
    mode — recursive re-banding with an adversarially low cap; n packs
    the verified Jaccard ×10⁶ so the pair scores hash-check), and
    SemDeDup semantic-dedup verdicts (``semdedup`` mode —
    pipeline.q_dedup_semantic; n packs kept-flag and centroid-sim ×10⁶
    so both hash-check)."""
    return _union(spark, sf_dir, _SIMHASH)


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + token counting fused into one scan-projection
    (operators/textops.py:text_metrics) — no join, no shuffle."""
    from ..operators.textops import text_metrics
    from ..sources.tables import load_table

    return text_metrics(load_table(spark, sf_dir, "documents"))


_ANN = _Spec("variant", "query_id bigint, corpus_id bigint, cosine_sim double, rank int", (
    ("cosine", "ann_cosine_topk", "query_id", "corpus_id", "cosine_sim", "rank"),
    ("project", "ann_project_topk", "query_id", "corpus_id", "cosine_sim", "rank"),
    ("sq", "ann_sq_topk", "query_id", "corpus_id", "cosine_sim", "rank"),
    ("ivfsq", "ann_ivfsq_topk", "query_id", "corpus_id", "cosine_sim", "rank"),
    ("ivf", "ann_ivf_topk", "query_id", "corpus_id", "cosine_sim", "rank"),
    ("filtered", "ann_filtered_topk", "query_id", "corpus_id", "cosine_sim", "rank"),
    (
        "ivf_multiprobe", "ann_ivf_multiprobe_topk",
        "query_id", "corpus_id", "cosine_sim", "rank",
    ),
    ("rh_lsh", "ann_rh_lsh_topk", "query_id", "corpus_id", "cosine_sim", "rank"),
    (
        "rh_multiprobe", "ann_rh_multiprobe_topk",
        "query_id", "corpus_id", "cosine_sim", "rank",
    ),
    ("pq", "ann_pq_topk", "query_id", "corpus_id", "approx_dist", "rank"),
    # ivfpq: the composed production index (2-probe routing × ADC codes)
    ("ivfpq", "ann_ivfpq_topk", "query_id", "corpus_id", "approx_dist", "rank"),
    # encode: corpus → hash-projection vectors → cosine top-k, the full
    # embedding-GENERATION path (documents in, neighbors out)
    ("encode", "ann_encode_topk", "query_id", "corpus_id", "cosine_sim", "rank"),
))


def q_ann_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search, all strategies under one row: exact brute-force
    cosine baseline, exact cosine in JL-projected 16-dim space
    (``project`` — the shuffle-byte reducer), SQ8 int8-code cosine
    (``sq`` — 8× compression, near-lossless) plus its composed index
    (``ivfsq`` — IVF routing × SQ8 posting lists), IVF (1- and
    2-probe), metadata-filtered IVF (``filtered`` — lang-scoped
    posting-list pre-filter over the shared full-corpus centroid
    artifact; round 11),
    RH-LSH (exact-bucket and Hamming-1 multi-probe), and PQ
    asymmetric-distance top-k (``pq`` mode — its metric is the L2² ADC
    distance, carried in the shared metric column)."""
    return _union(spark, sf_dir, _ANN)


# --------------------------------------------------------- enrichment suites
_GEOCODE = _Spec(
    "mode",
    "address string, matched_address string, info string, "
    "latitude double, longitude double, score double",
    (
        (
            "two_phase", "u2_geocode_two_phase",
            "address", "matched_address", "geo_level", None, None, "score",
        ),
        (
            "fallback", "u2_geocode_fallback",
            "address", "matched_address", "source", "latitude", "longitude", None,
        ),
    ),
)


def q_u2_geocode_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 both halves: the two-phase gazetteer similarity join and the
    full wrapper with rate-limited external fallback."""
    return _union(spark, sf_dir, _GEOCODE)


# Number of q_multimodal_suite union branches whose subtree crosses Python
# via one Arrow-batched MapInPandas node (uncached stages referenced by two
# branches count twice — the plan prints a node per reference). Update this
# alongside the suite's spec rows when adding a mode; tests/
# test_plan_shapes.py derives its expected MapInPandas count from it.
MULTIMODAL_PYTHON_BRANCHES = 18  # decode resize audio ra ral ri rirgb rp rprgb rj rjrgb rg rgrgb + img_dedup dhash + audio_dedup fp + video_dedup frames + img_dedup_inc corpus/delta hashes


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return to_media_column(load_table(spark, sf_dir, "documents"))


def _fixture(items: list[dict], features, id_key: str) -> _Rel:
    """A hand-packed media fixture: Spark decodes the payloads with
    ``features``; the SQL relation is the fixtures' EXPECTED features,
    computed from the raw sample/pixel arrays by an independent reference
    (pure integer math), so a hash match certifies a real decode."""
    names = [k for k in items[0] if k != "payload"]
    rows = ", ".join(
        "(" + ", ".join(repr(c[k]) for k in names) + ")" for c in items
    )
    kind = {int: "BIGINT", str: "VARCHAR"}
    return _Rel(
        lambda spark, sf_dir: features(
            local_table(
                spark,
                [(c[id_key], bytearray(c["payload"])) for c in items],
                "doc_id bigint, media binary",
            )
        ),
        "SELECT "
        + ", ".join(
            f"CAST({k} AS {kind[type(items[0][k])]}) AS "
            + ("doc_id" if k == id_key else k)
            for k in names
        )
        + f" FROM (VALUES {rows}) AS t({', '.join(names)})",
    )


# real_audio: GENUINE WAV decode (stdlib wave) over hand-packed PCM
# fixtures — duration/RMS/peak come from the actual samples, and the
# oracle pins them to expectations computed from the raw sample
# arrays by an independent reference (operators/multimodal.py:
# wav_fixture_clips)
_WAV = _fixture(wav_fixture_clips(), real_audio_features, "clip_id")
# real_image: GENUINE uncompressed-BMP decode (stdlib struct) over
# hand-packed pixel fixtures — dims and channel means from actual
# pixels, pinned by independently-computed expected values
_BMP = _fixture(bmp_fixture_images(), real_image_features, "img_id")
# real_png: GENUINE PNG decode (stdlib zlib inflate + five-filter
# scanline defiltering, CRC-verified chunk walk) over hand-packed
# fixtures whose expected features come straight from the pixel arrays
_PNG = _fixture(png_fixture_images(), real_png_features, "img_id")
# real_jpeg: GENUINE baseline JPEG decode (canonical Huffman entropy
# decode + dequant + full IDCT + YCbCr→RGB) over hand-packed fixtures
# built exact-by-construction (block-constant DC-only components)
_JPEG = _fixture(jpeg_fixture_images(), real_jpeg_features, "img_id")
# real_gif: GENUINE single-frame GIF decode (variable-width LZW,
# extension skipping, global/local color tables) over hand-packed
# fixtures whose LZW data comes from an independent encoder
_GIF = _fixture(gif_fixture_images(), real_gif_features, "img_id")

_MULTIMODAL = _Spec(
    "mode",
    "doc_id bigint, seq bigint, digest string, n_bytes bigint, m1 bigint, m2 bigint",
    (
        (
            "decode", "multimodal_decode",
            "doc_id", None, "content_md5", "n_bytes", "fake_width", "fake_height",
        ),
        (
            "frames", "multimodal_frames", "doc_id",
            _cast("frame_no", "bigint"), "frame_md5", "frame_bytes", None, None,
        ),
        (
            "resize",
            _Rel(
                lambda spark, sf_dir: resize_image(_media(spark, sf_dir)),
                "SELECT doc_id, md5(text || '640x480') AS resized_md5, "
                "CAST(strlen(text) AS BIGINT) AS n_bytes, "
                "CAST(640 AS BIGINT) AS width, CAST(480 AS BIGINT) AS height "
                "FROM documents",
            ),
            "doc_id", None, "resized_md5", "n_bytes", "width", "height",
        ),
        (
            "audio",
            _Rel(
                lambda spark, sf_dir: audio_features(_media(spark, sf_dir)),
                "SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, "
                "CAST(16000 AS BIGINT) AS sample_rate, "
                "CAST(strlen(text) AS BIGINT) * 1000 // 16000 AS duration_ms "
                "FROM documents",
            ),
            "doc_id", None, None, "n_bytes", "sample_rate", "duration_ms",
        ),
        (
            "real_audio", _WAV,
            "doc_id", "n_frames", "content_md5", "n_bytes", "sample_rate", "duration_ms",
        ),
        (
            "real_audio_level", _WAV,
            "doc_id", "n_channels", None, "n_bytes", "rms", "peak",
        ),
        *(
            row
            for tag, fixture in (
                ("real_image", _BMP),
                ("real_png", _PNG),
                ("real_jpeg", _JPEG),
                ("real_gif", _GIF),
            )
            for row in (
                (
                    tag, fixture,
                    "doc_id", "n_pixels", "content_md5", "n_bytes", "width", "height",
                ),
                (
                    f"{tag}_rgb", fixture,
                    "doc_id", "n_pixels", None, "n_bytes", "mean_rgb", "n_pixels",
                ),
            )
        ),
        # img_dedup: perceptual-hash (dHash) image near-dup over the decoded
        # pixels — re-encoded / brightness-shifted / cropped copies cluster
        # with their originals and the minimum id survives (keep-one)
        (
            "img_dedup", "dedup_image_phash",
            "img_id", "keep_id", "dhash", None, _cast("is_dup", "bigint"), None,
        ),
        # audio_dedup: temporal-energy dHash near-dup over decoded PCM —
        # volume-scaled / re-headered / stereo-duplicated copies cluster
        # with their originals (the audio member of the perceptual family)
        (
            "audio_dedup", "dedup_audio_fp",
            "clip_id", "keep_id", "fp", None, _cast("is_dup", "bigint"), None,
        ),
        # video_dedup: sampled-frame pHash matching over animated GIFs — a
        # re-encode and a head-trimmed copy cluster with their originals
        (
            "video_dedup", "dedup_video_phash",
            "video_id", "keep_id", None, "n_frames", _cast("is_dup", "bigint"), None,
        ),
        # img_dedup_inc: the delta-vs-corpus ingest path — the perturbed
        # copies arrive as a delta; corpus-corpus pairs are provably absent
        (
            "img_dedup_inc", "dedup_image_phash_inc",
            "id_a", "id_b", None, "hamming_dist", None, None,
        ),
    ),
)


def q_multimodal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over the binary media column, all four stages
    the brief names: mapInPandas metadata decode, Catalyst frame sampling,
    mapInPandas resize, and mapInPandas audio feature extraction. Generic
    metric columns per mode: decode m1/m2 = fake width/height; resize
    m1/m2 = target width/height; audio m1/m2 = sample_rate/duration_ms;
    frames use seq = frame_no."""
    ship_package(spark)
    return _union(spark, sf_dir, _MULTIMODAL)


# ---------------------------------------------------------- connector suites
_REST = _Spec("src", "c1 string, c2 string, c3 string", (
    ("tickets", "s1_rest_connector", "id", "status", "owner_name"),
    ("messages", "s3_correlated_fetch", "ticket_id", "message", None),
    ("users", "s4_point_lookup", "id", "name", "role"),
))


def q_s_rest_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REST connector end-to-end: S1/S2/S5 paginated scan, S3 correlated
    sub-entity fetch, S4 throttled point lookups behind a cache
    anti-join."""
    return _union(spark, sf_dir, _REST)


_CSV_GAZ = _Spec("src", "k string, name string, extra string", (
    (
        "csv", "s8_csv_scan",
        _cast("n_nationkey", "string"), "n_name", _cast("n_regionkey", "string"),
    ),
    ("gaz", "s9_gazetteer_cached", _cast("gaz_id", "string"), "address", "address_cleaned"),
))


def q_s8_s9_csv_gazetteer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 CSV scan + S9 gazetteer scan/normalize/cache."""
    return _union(spark, sf_dir, _CSV_GAZ)


# --------------------------------------------------------- streaming suite
def _id_pair(a: str, b: str):
    return _packed("|", _cast(a, "string"), _cast(b, "string"))


_STREAM = _Spec(
    "mode",
    "grp string, window_start timestamp, window_end timestamp, "
    "n_events bigint, total_value double",
    (
        *(
            (tag, key, None, "window_start", None, "n_events", "total_value")
            for tag, key in (
                ("tumbling", "stream_tumbling_6h"),
                ("append", "stream_append_6h"),
                ("upsert", "stream_upsert_6h"),
                ("dedup", "stream_dedup_6h"),
                ("merge_part", "stream_merge_partitioned"),
            )
        ),
        # session windows are a batch query over the events table
        (
            "session", "stream_session_windows", _cast("user_id", "string"),
            "session_start", "session_end", "n_events", None,
        ),
        (
            "join", "stream_join_30m", _cast("user_id", "string"),
            None, None, "n_pairs", "total_quote_value",
        ),
        # incdedup: streaming incremental near-dup MERGE over the
        # documents corpus (batch N deduped vs batches 1..N−1)
        (
            "incdedup", "stream_incremental_dedup",
            _id_pair("id_a", "id_b"), None, None, "id_b", "jaccard_sim",
        ),
        # scored_ingest: the same ingestion loop with the quality + ppl
        # gates applied to each micro-batch BEFORE indexing
        (
            "scored_ingest", "stream_scored_ingest",
            _id_pair("id_a", "id_b"), None, None, "id_b", "jaccard_sim",
        ),
        # incsem: streaming SemDeDup over the embeddings corpus — verdict
        # table maintained by monotone kept-flips; drained == batch
        (
            "incsem", "stream_semantic_dedup",
            _cast("vec_id", "string"), None, None, _cast("cluster_id", "bigint"),
            # kept*10 + 6dp-rounded sim: exact in IEEE double on both engines
            (
                lambda: F.col("kept").cast("double") * 10 + F.col("centroid_sim"),
                "CAST(kept AS DOUBLE) * 10 + centroid_sim",
            ),
        ),
        # incphash: streaming perceptual MEDIA dedup — decode → dHash →
        # delta-vs-corpus pairs against the stored fingerprint index
        (
            "incphash", "stream_media_dedup", _id_pair("id_a", "id_b"),
            None, None, "id_b", _cast("hamming_dist", "double"),
        ),
        # incrollup: continuous aggregate via replay-safe keyed partials
        (
            "incrollup", "stream_hypertable_rollup",
            "level", "bucket_ts", None, "n_events", "total_value",
        ),
        # incann: IVF index maintained by frozen-centroid assignment
        # MERGEs, queried through the stored posting lists
        (
            "incann", "stream_ann_ingest", _id_pair("query_id", "corpus_id"),
            None, None, _cast("rank", "bigint"), "cosine_sim",
        ),
        # increr: streaming entity resolution — each record batch
        # resolved delta-vs-corpus against the stored assignment;
        # drained table == full-batch resolve_entities
        (
            "increr", "stream_entity_resolution", _cast("rec_id", "string"),
            None, None, "entity_id", _cast("n_records", "double"),
        ),
        # increridx: the same loop on the fully indexed state layout —
        # ptable record/assignment state + the secondary block index,
        # so per-batch scan I/O tracks the delta's neighborhood
        (
            "increridx", "stream_er_indexed", _cast("rec_id", "string"),
            None, None, "entity_id", _cast("n_records", "double"),
        ),
        # gated: expectation-gated ingestion with a quarantine table —
        # a batch with any failing check never reaches the kept table
        ("gated", "stream_gated_ingest", "verdict", None, None, "doc_id", None),
        # incgold: the golden dimension maintained by streaming ER —
        # touched-entity golden MERGEs + the self-healing stale sweep
        (
            "incgold", "stream_er_golden", _packed("|", "name", "phone", "address"),
            None, None, "entity_id", _cast("n_records", "double"),
        ),
    ),
)


def q_stream_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 Structured Streaming, all modes under one row: tumbling 6-h
    windows (update), append-mode watermark finalization, foreachBatch
    exactly-once upsert, stateful ingestion dedup (every event delivered
    twice, dropDuplicatesWithinWatermark must collapse it), the
    bucket-pruned streaming MERGE (``merge_part`` — the upsert's 100 TB
    variant through ``partitioned_upsert``), the watermarked
    stream-stream join (``join`` mode — trades⋈quotes within a
    30-minute event-time band, streaming/windows.py:stream_join_30m),
    30-minute-gap session windows, and the streaming incremental
    near-dup MERGE (``incdedup`` — documents ingested as micro-batches,
    each deduped against the corpus-so-far,
    streaming/windows.py:stream_incremental_dedup; its drained pair set
    equals the batch LSH result, which is its oracle), and streaming
    SemDeDup (``incsem`` — embeddings ingested as micro-batches against
    the stored assignment index, corpus verdicts flipped monotonically
    by the reverse pair probe; drained verdicts equal the batch
    semantic_dedup, which is its oracle verbatim); since round 9,
    the continuous aggregate (``incrollup`` — hourly partials keyed by
    (batch_id, bucket) so an ADDITIVE aggregate survives crash replay,
    read-time fold == batch hypertable_rollup, its oracle), ANN
    index maintenance (``incann`` — frozen-centroid assignment MERGEs
    into a stored IVF posting-list table, queried through the index
    with ``corpus_preassigned=True``), streaming entity resolution
    (``increr`` — each record batch resolved delta-vs-corpus against
    the stored assignment, entity merges propagated by changed-row
    MERGEs; drained table == full-batch resolve_entities, its oracle),
    the same loop on the fully indexed state layout (``increridx``,
    round 11 — ptable record/assignment state plus the secondary block
    index, so per-batch scan I/O tracks the delta's neighborhood; the
    index is pure I/O pruning, so the drained assignment shares
    increr's oracle),
    expectation-gated ingestion (``gated`` — each batch through the
    declarative quality gate, failing batches MERGE into a quarantine
    table instead of the kept one; the per-batch gate is reproduced in
    SQL as its oracle), and the streaming golden dimension
    (``incgold`` — touched-entity golden MERGEs + a self-healing stale
    sweep that MERGE-DELETEs entities swallowed by merges; drained ==
    full-batch golden records, its oracle).

    The AvailableNow streaming members run CONCURRENTLY via a thread pool: each is
    an independent run-to-completion AvailableNow query, so their fixed
    costs (checkpoint + state-store instantiation, ~0.5-1 s per stateful
    query) overlap instead of summing. Round 3 measured fan-out slower
    (14.9 s vs 11.8 s cold) and went sequential; after the round-4 fixed-
    cost work (memoized source staging, shared-memory checkpoints, sized
    state stores, empty-target MERGE fast path) the members are cheap
    enough that the round-5 re-measurement flipped it: fan-out 7.3 s cold /
    2.2 s warm vs 11.1 s / 4.9 s sequential at sf0.01. The
    round-5 join member adds ~1.5 s to the fan-out (two stream sources +
    join state instantiation) — the suite's measured fixed cost is ~5 s
    at sf0.01 with seven members, vs the 4 s target it met at five; the
    coverage is worth the second. The
    ``spark.sql.shuffle.partitions`` state-store sizing is applied ONCE
    around the whole fan-out (members get ``n_state_partitions=None``) —
    per-member conf mutation would race across threads and could leave the
    session conf corrupted for later queries. One partition per member
    measured fastest under the fan-out (6.5 s vs 6.8 s at 2, 9.9 s at 4,
    cold sf0.01): with four queries already running in parallel, extra
    state-store instances per query are pure setup cost at gate-scale key
    counts; production streams size ``n_state_partitions`` to their key
    cardinality / cluster as the member docstrings describe."""
    streamed = [
        key for _tag, key, *_ in _STREAM.rows if key != "stream_session_windows"
    ]
    # one thread per streaming member, so every member starts at once
    with state_partitions(spark, 1), ThreadPoolExecutor(len(streamed)) as ex:
        # the member's jobs carry the caller's job group/description
        futs = {
            key: ex.submit(
                inheritable_thread_target(spark)(_MEMBERS[key]), spark, sf_dir, None
            )
            for key in streamed
        }
        frames = {key: f.result() for key, f in futs.items()}
    return _union(spark, sf_dir, _STREAM, frames)


# ------------------------------------------------------------------ oracles
ORACLES: dict[str, str] = {
    "s7_w3_preview_limit": _union_sql(_S7_W3),
    "j2_j4_semi_anti": _union_sql(_J2_J4),
    "metrics_new_vs_existing": _union_sql(_METRICS),
    "a2_a3_distinct_suite": _union_sql(_A2_A3),
    "w4_w5_window_sweep": _union_sql(_W4_W5),
    "skew_suite": _union_sql(_SKEW),
    "setops_suite": _union_sql(_SETOPS),
    "f1_f6_string_ops": r"""
        SELECT doc_id,
               coalesce(nullif(regexp_extract(text, '\b(spark|hash|merge)\b', 1), ''),
                        'No Match') AS first_keyword,
               array_to_string(string_split_regex(trim(text), '\s+')[1:5], ',') AS first_tokens
        FROM documents
    """,
    "f7_f9_time_buckets": _union_sql(_F7_F9),
    "text_corpus_stats": _union_sql(_TEXT),
    "f11_f12_schedule_safecast": """
        SELECT event_id,
               make_timestamp(epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP))
                 + CAST(CASE CAST(event_id % 4 AS INT)
                      WHEN 0 THEN 54000 WHEN 1 THEN 41400 WHEN 2 THEN 68400
                      ELSE 0 END AS BIGINT) * 1000000) AS schedule_ts,
               CASE WHEN event_id % 3 = 0 THEN value ELSE NULL END AS safe_value,
               CAST(NULL AS TIMESTAMP) AS safe_ts
        FROM events
    """,
    "dedup_exact_suite": _union_sql(_DEDUP_EXACT),
    "dedup_simhash_suite": _union_sql(_SIMHASH),
    "text_metrics": "SELECT q.*, t.ws_tokens, t.bpe_tokens, t.approx_llm_tokens FROM ("
        + _TWINS["text_quality_score"]
        + ") q JOIN ("
        + _TWINS["text_token_counts"]
        + ") t USING (doc_id)",
    "ann_suite": _union_sql(_ANN),
    "u2_geocode_suite": _union_sql(_GEOCODE),
    "multimodal_suite": _union_sql(_MULTIMODAL),
    "s_rest_suite": _union_sql(_REST),
    "s8_s9_csv_gazetteer": _union_sql(_CSV_GAZ),
    "stream_suite": _union_sql(_STREAM),
}

QUERIES = {
    "s7_w3_preview_limit": q_s7_w3_preview_limit,
    "j2_j4_semi_anti": q_j2_j4_semi_anti,
    "a2_a3_distinct_suite": q_a2_a3_distinct_suite,
    "metrics_new_vs_existing": q_metrics_new_vs_existing,
    "w4_w5_window_sweep": q_w4_w5_window_sweep,
    "skew_suite": q_skew_suite,
    "setops_suite": q_setops_suite,
    "f1_f6_string_ops": q_f1_f6_string_ops,
    "f7_f9_time_buckets": q_f7_f9_time_buckets,
    "f11_f12_schedule_safecast": q_f11_f12_schedule_safecast,
    "text_corpus_stats": q_text_corpus_stats,
    "dedup_exact_suite": q_dedup_exact_suite,
    "dedup_simhash_suite": q_dedup_simhash_suite,
    "text_metrics": q_text_metrics,
    "ann_suite": q_ann_suite,
    "u2_geocode_suite": q_u2_geocode_suite,
    "multimodal_suite": q_multimodal_suite,
    "s_rest_suite": q_s_rest_suite,
    "s8_s9_csv_gazetteer": q_s8_s9_csv_gazetteer,
    "stream_suite": q_stream_suite,
}
