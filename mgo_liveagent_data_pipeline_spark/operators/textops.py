"""Text-analysis operators over the documents table — language ID, quality
scoring, token counting, fingerprinting. All pure Catalyst expressions
(regex + array higher-order functions); nothing leaves the JVM, so they run
at parquet-scan speed on a 100 TB corpus.
"""
from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import word_shingles
from ..sources.tables import local_table

# tiny function-word gazetteer for the n-gram/stopword language heuristic
EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

# highest-frequency English character bigrams (public corpus statistics) —
# the profile for the n-gram language heuristic
EN_BIGRAMS = (
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
    "ti", "es", "or", "te", "of", "ed", "is", "it", "al", "ar",
)

# BPE-ish tokenization: letter runs, digit runs, single other non-space —
# approximates how byte-pair pretokenizers split before merges.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def language_id(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    stopwords: tuple[str, ...] = EN_STOPWORDS,
    threshold: float = 0.03,
) -> DataFrame:
    """Heuristic language ID, two signals per doc: share of tokens that
    are English function words, and the share of character bigrams found
    in the English high-frequency bigram profile (the classic n-gram
    profile method, Cavnar-Trenkle style with a fixed profile). Real
    pipelines plug fastText here via mapInPandas; the operator contract —
    doc in, (lang, confidence) out — is what matters.

    ``lang_pred`` stays the stopword vote (stable contract); the bigram
    ratio ships as its own column so callers can threshold or combine."""
    toks = _tokens(F.col(text_col))
    hits = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*stopwords))
    ).cast("double")
    total = F.size(toks).cast("double")
    ratio = F.round(F.when(total > 0, hits / total).otherwise(0.0), 6)

    # char-bigram profile hit-rate, bound once per row (captured subtrees
    # re-evaluate per element otherwise)
    def bigram_ratio(s: Column) -> Column:
        n = F.greatest(F.length(s) - 1, F.lit(1))
        grams = F.transform(
            F.sequence(F.lit(1), n), lambda i: s.substr(i, F.lit(2))
        )
        bhits = F.size(F.filter(grams, lambda g: g.isin(*EN_BIGRAMS)))
        return F.round(
            F.when(
                F.length(s) > 1, bhits.cast("double") / n.cast("double")
            ).otherwise(0.0),
            6,
        )

    bg = F.element_at(
        F.transform(F.array(F.lower(F.trim(F.col(text_col)))), bigram_ratio), 1
    )
    return df.select(
        F.col(key_col),
        ratio.alias("stopword_ratio"),
        bg.alias("bigram_ratio"),
        F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("other")).alias(
            "lang_pred"
        ),
    )


def _quality_cols(t: Column) -> dict[str, Column]:
    toks = _tokens(t)
    n_chars = F.length(t).cast("double")
    n_tokens = F.size(toks).cast("double")
    # exact token-length mean (sum of token lengths / count), NOT the
    # (chars - separators)/n approximation — that one counts every extra
    # whitespace char of multi-space/newline formatting as letter mass
    tok_chars = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    ).cast("double")
    mean_word_len = F.round(F.when(n_tokens > 0, tok_chars / n_tokens).otherwise(0.0), 6)
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).cast("double")
    punct_ratio = F.round(F.when(n_chars > 0, punct / n_chars).otherwise(0.0), 6)
    upper = F.length(F.regexp_replace(t, r"[^A-Z]", "")).cast("double")
    upper_ratio = F.round(F.when(n_chars > 0, upper / n_chars).otherwise(0.0), 6)
    score = F.round(
        F.when((n_tokens >= 10) & (punct_ratio < 0.2) & (upper_ratio < 0.3), 1.0)
        .otherwise(0.0),
        1,
    )
    return {
        "n_chars_obs": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_word_len": mean_word_len,
        "punct_ratio": punct_ratio,
        "upper_ratio": upper_ratio,
        "quality": score,
    }


def _token_cols(t: Column) -> dict[str, Column]:
    return {
        "ws_tokens": F.size(_tokens(t)).cast("long"),
        "bpe_tokens": F.regexp_count(t, F.lit(BPE_TOKEN_PATTERN)).cast("long"),
        "approx_llm_tokens": (F.length(t) / 4).cast("long"),
    }


def quality_score(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Heuristic document-quality features + composite score:
    length, token count, mean word length, punctuation ratio, uppercase
    ratio — the usual cheap pre-filters before expensive LLM scoring."""
    cols = _quality_cols(F.col(text_col))
    return df.select(
        F.col(key_col), *[c.alias(n) for n, c in cols.items()]
    )


def token_counts(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Token counting two ways: whitespace tokens and BPE-ish pretokens —
    the budget metric every training-data pipeline reports (reference F15
    counted tiktoken tokens per conversation,
    core/extract/ConvoDataExtract.py:74-82)."""
    cols = _token_cols(F.col(text_col))
    return df.select(
        F.col(key_col), *[c.alias(n) for n, c in cols.items()]
    )


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Gopher-style repetition quality signals, per document: the fraction
    of tokens that are repeats of an earlier token, and the fraction of
    positional word ``shingle_k``-grams that are repeats — the standard
    cheap filters for looping/boilerplate text before it enters a
    training mix (a high dup_shingle_frac marks machine-generated or
    template text that per-token stats miss).

    Pure Catalyst array expressions over one scan — no explode, no
    shuffle; the shingle list here is POSITIONAL (a multiset), unlike the
    deduplicated shingle sets the Jaccard/minhash operators use, because
    repetition is precisely what a set representation erases. At 100 TB
    this runs at parquet-scan speed like the rest of this module.
    """
    t = F.col(text_col)
    toks = F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != F.lit(""))
    n_tok = F.size(toks)
    n_tok_d = F.size(F.array_distinct(toks))
    sh = F.when(
        n_tok >= shingle_k,
        F.transform(
            F.sequence(F.lit(1), n_tok - (shingle_k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, shingle_k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_sh = F.size(sh)
    n_sh_d = F.size(F.array_distinct(sh))
    dup_tok = F.round(
        F.when(
            n_tok > 0,
            (n_tok - n_tok_d).cast("double") / n_tok.cast("double"),
        ).otherwise(0.0),
        6,
    )
    dup_sh = F.round(
        F.when(
            n_sh > 0, (n_sh - n_sh_d).cast("double") / n_sh.cast("double")
        ).otherwise(0.0),
        6,
    )
    return df.select(
        F.col(key_col),
        n_tok.cast("long").alias("n_tokens"),
        dup_tok.alias("dup_token_frac"),
        n_sh.cast("long").alias("n_shingles"),
        dup_sh.alias("dup_shingle_frac"),
    )


# PII patterns shared by scrub + count. RE2/Java-regex common subset (no
# lookaround) so the DuckDB oracle evaluates the identical expressions.
#
# The phone pattern covers the common free-form shapes the reference's
# tickets carry in their contact fields (core/Ticket.py:57-63):
#   +639171234567          international, 10-13 digits after '+'
#   (02) 8888-8888         area code in parens, optional space/hyphen
#   0917-123-4567 / 02 888 8888 / 12-345-678-9012
#                          2-4 leading digits then 2-3 separator-delimited
#                          groups of 3-4 digits
# Groups after the first are held to 3-4 digits so ISO dates
# (2024-01-15: trailing groups of 2) stay unredacted — a compliance
# operator that eats timestamps gives false *positives*; one that misses
# `(02) 8888-8888` gives false assurance. Alternatives start on disjoint
# characters ('+', '(', digit), so Java's and RE2's leftmost-first match
# pick identical spans.
PHONE_PATTERN = (
    r"(?:\+\d{10,13}\b)"
    r"|(?:\(\d{1,4}\)[ -]?\d{3,4}[ -]?\d{4}\b)"
    r"|(?:\b\d{2,4}(?:[ -]\d{3,4}){2,3}\b)"
)
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", PHONE_PATTERN, "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def pii_scrub(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """PII redaction — the compliance pass every training-data pipeline
    runs before text enters a corpus: emails, phone numbers (the
    reference's LiveAgent tickets carry both — core/Ticket.py ships raw
    owner contact fields), and IPv4 addresses are replaced with typed
    placeholder tokens, with per-type match counts kept for audit
    metrics. Order matters: emails are scrubbed before IPs so a host
    part is never double-redacted.

    Chained ``regexp_replace`` + ``regexp_count`` — single scan, pure
    codegen, no shuffle; at 100 TB this is scan-speed like the rest of
    this module."""
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _tok in PII_PATTERNS
    ]
    red = t
    for _name, pat, tok in PII_PATTERNS:
        red = F.regexp_replace(red, pat, tok)
    return df.select(
        F.col(key_col),
        *counts,
        red.alias("text_redacted"),
    )


def text_metrics(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Quality features + token counts in ONE projection over one scan —
    the fused form a production pipeline runs (joining the two per-doc
    maps would shuffle the corpus on the key for nothing)."""
    t = F.col(text_col)
    cols = {**_quality_cols(t), **_token_cols(t)}
    return df.select(
        F.col(key_col), *[c.alias(n) for n, c in cols.items()]
    )


def _md5_bucket(key_col: str) -> Column:
    """The shared deterministic accept bucket: first 8 hex digits of
    md5(key) as a long in [0, 16^8) — reproducible across runs, engines
    and partitionings (no RNG state). Rows survive a rate r iff
    ``_md5_bucket(k) < r * _MD5_BUCKET_SCALE``."""
    return F.conv(
        F.md5(F.col(key_col).cast("string")).substr(1, 8), 16, 10
    ).cast("long")


_MD5_BUCKET_SCALE = float(16**8)


def _rate_accept(
    with_toks: DataFrame, rates: DataFrame, domain_col: str, key_col: str
) -> DataFrame:
    """Shared tail of the rate-based resamplers: broadcast the tiny
    per-domain ``accept_rate`` relation back onto the corpus, apply the
    md5-bucket accept, and publish the per-doc token count. The inner
    join drops domains absent from ``rates`` — each caller documents
    which domains those are."""
    return (
        with_toks.join(F.broadcast(rates), domain_col)
        .where(
            _md5_bucket(key_col)
            < F.col("accept_rate") * F.lit(_MD5_BUCKET_SCALE)
        )
        .withColumnRenamed("__nt", "n_tokens")
    )


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic stratified downsampling — the curation step that
    rebalances over-represented strata (languages, sources) in a training
    corpus. A row survives iff the first 8 hex digits of md5(key) fall
    under its stratum's rate: reproducible across runs, engines and
    partitionings (no RNG state — same determinism trick as MinHash), and
    a narrow map, so it fuses into the scan at any scale.

    ``rates`` maps stratum value → keep fraction in [0, 1];
    unlisted strata keep ``default_rate``.
    """
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))).otherwise(rate)
    return df.where(_md5_bucket(key_col) < (rate * F.lit(_MD5_BUCKET_SCALE)))


def group_sample_k(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic fixed-quota sampling: exactly min(k, |group|) rows
    per group, chosen by md5(key) order — the "N examples per
    language/source" curation quota that rate-based
    ``stratified_hash_sample`` can't express (a rate can't guarantee a
    count). md5 ordering makes the choice reproducible across runs,
    engines and partitionings, and UNIFORM within the group (hash order
    is independent of any data attribute). Returns the sampled rows plus
    ``sample_rank`` (1..k in hash order).

    Plan: one hash shuffle on the group key + in-partition sort;
    Spark's WindowGroupLimit pushes the ``rank <= k`` bound into the
    sort, so each partition keeps only k rows per group — never a full
    per-group materialization at 100 TB."""
    from pyspark.sql.window import Window

    h = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h, F.col(key_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= k)
    )


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    weights: dict[str, float],
    budget_tokens: int,
    text_col: str = "text",
    key_col: str = "doc_id",
    token_count_col: str | None = None,
) -> DataFrame:
    """Domain-mixture resampling: downsample each domain so the kept
    corpus approaches a TARGET token mixture (``weights``, normalized
    internally) within an overall ``budget_tokens`` — the data-mixing
    step that turns "whatever the crawl contains" into "30% web / 30%
    code / 40% books". Domains absent from ``weights`` get weight 0 and
    are dropped. A domain that is UNDER-represented keeps everything
    (rate caps at 1.0 — hash sampling can only remove, not invent).

    A doc survives iff its md5(key) bucket falls under its domain's
    acceptance rate ``min(1, target_tokens / current_tokens)`` — the
    same engine-/partitioning-independent determinism trick as
    ``stratified_hash_sample``, but with the rate COMPUTED from the
    corpus instead of supplied.

    Plan at 100 TB: per-domain token totals are one hash agg with
    map-side combine down to |domains| rows; the rates table is
    broadcast back (no corpus shuffle), and the accept test is a narrow
    filter fused into the scan projection. Returns the kept rows plus
    ``accept_rate`` and the per-doc ``n_tokens`` already computed for
    the totals (so callers don't re-tokenize to report budgets).

    ``token_count_col`` swaps the budget unit: when given, per-doc
    counts come from that column (e.g. ``bpe_encode``'s real subword
    ``n_bpe_tokens``) instead of the whitespace tokenizer — training
    budgets are contracted in tokenizer tokens, and whitespace counts
    diverge from them severalfold (8× measured on the bench corpus), so
    a whitespace-budgeted mixture systematically misallocates. The plan
    is unchanged: the column rides the same scan, no extra pass.
    """
    from .dedup import _scoped_persist

    total_w = sum(weights.values())
    n_tokens = (
        F.col(token_count_col).cast("long")
        if token_count_col is not None
        else F.size(
            F.filter(_tokens(F.col(text_col)), lambda x: x != F.lit(""))
        ).cast("long")
    )
    # consumed twice (per-domain totals, then the accept filter) — persist
    # so the corpus is scanned and tokenized once (released via
    # dedup.release_intermediates, same as gap_fill_locf / bm25_topk)
    with_toks = _scoped_persist(df.withColumn("__nt", n_tokens))
    cur = with_toks.groupBy(domain_col).agg(
        F.sum("__nt").alias("__cur")
    )
    target = F.lit(None).cast("double")
    for value, w in sorted(weights.items()):
        target = F.when(
            F.col(domain_col) == value,
            F.lit(float(budget_tokens) * (w / total_w)),
        ).otherwise(target)
    # filter unlisted domains BEFORE least(): Spark's least() skips
    # NULL operands, so least(1.0, NULL-target) would silently keep an
    # unweighted domain in full instead of dropping it. Zero-token
    # weighted domains rate 1.0 outright (under-represented in the
    # extreme) — the division would raise DIVIDE_BY_ZERO under ANSI
    rates = (
        cur.withColumn("__target", target)
        .where(F.col("__target").isNotNull())
        .select(
            domain_col,
            F.when(F.col("__cur") > 0, F.least(
                F.lit(1.0), F.col("__target") / F.col("__cur").cast("double")
            )).otherwise(F.lit(1.0)).alias("accept_rate"),
        )
    )
    return _rate_accept(with_toks, rates, domain_col, key_col)


def temperature_sample(
    df: DataFrame,
    domain_col: str,
    alpha: float,
    budget_tokens: int,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based domain balancing (the mT5/multilingual-LM
    α-smoothing step): targets are DERIVED from the corpus's own token
    shares — q_i ∝ p_i^α, target_i = budget·q_i — so low-resource
    domains are boosted relative to their natural share (α < 1) without
    anyone supplying per-domain weights. α = 1 reproduces proportional
    sampling (every domain gets the same acceptance rate, test-pinned);
    α = 0 targets a uniform mixture. Complements ``mixture_sample``,
    whose targets are externally specified. Rows with a NULL domain are
    DROPPED — excluded from the share computation too, so their tokens
    never inflate the normalization total (clean your domain column
    first if NULLs should participate).

    Acceptance is the same engine-independent md5(key)-bucket rule as
    ``mixture_sample``/``stratified_hash_sample``; the rate is rounded
    to 6 decimals before the comparison so both engines compare the same
    number despite last-ulp ``pow``/sum differences.

    Plan at 100 TB: one hash agg to |domains| rows, the α-power and the
    share normalization over that tiny relation (a 1-row total
    broadcast back), then a broadcast rate join and a narrow filter —
    the corpus is scanned once, never shuffled."""
    from .dedup import _scoped_persist

    n_tokens = F.size(
        F.filter(_tokens(F.col(text_col)), lambda x: x != F.lit(""))
    ).cast("long")
    from pyspark.sql.window import Window

    with_toks = _scoped_persist(df.withColumn("__nt", n_tokens))
    cur = (
        with_toks.where(F.col(domain_col).isNotNull())
        .groupBy(domain_col)
        .agg(F.sum("__nt").alias("__cur"))
    )
    pa = F.when(
        F.col("__cur") > 0,
        F.pow(F.col("__cur").cast("double"), F.lit(float(alpha))),
    ).otherwise(F.lit(0.0))
    # the normalization total as a global window over the |domains|-row
    # aggregate: ONE aggregation pass over the corpus, not a second agg
    # feeding a crossJoin (the tiny single-partition window is free)
    powed = cur.withColumn("__pa", pa).withColumn(
        "__tot", F.sum("__pa").over(Window.partitionBy())
    )
    rates = powed.select(
        domain_col,
        F.round(
            F.when(
                (F.col("__cur") > 0) & (F.col("__tot") > 0),
                F.least(
                    F.lit(1.0),
                    (
                        F.lit(float(budget_tokens))
                        * F.col("__pa")
                        / F.col("__tot")
                    )
                    / F.col("__cur").cast("double"),
                ),
            ).otherwise(F.lit(1.0)),
            6,
        ).alias("accept_rate"),
    )
    return _rate_accept(with_toks, rates, domain_col, key_col)


def hashed_linear_score(
    df: DataFrame,
    weights: DataFrame,
    n_buckets: int,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Hashed bag-of-words linear model scoring — the fasttext-style
    quality-classifier inference pass (score every document against a
    trained linear model) that sits between the cheap heuristic filters
    and expensive LLM scoring in a curation pipeline. ``weights`` is the
    model: (bucket BIGINT, weight BIGINT) with integer weights in
    fixed-point milli-units — INTEGER so the per-doc sum is
    order-independent and bit-exact at any parallelism; the single
    float division happens once per doc at the end.

    Tokens hash to ``bucket`` via the first-8-hex-of-md5 trick (stable
    across engines); score = mean token weight / 1000. Docs with no
    tokens score NULL (kept, via the left join).

    Plan at 100 TB: explode tokens (narrow flatMap), BROADCAST-join the
    |n_buckets|-row model (no corpus shuffle), then ONE groupBy(key)
    whose map-side combine collapses token rows back to |docs| before
    the only shuffle. Returns (key, n_tokens, score).
    """
    toks = F.filter(_tokens(F.col(text_col)), lambda x: x != F.lit(""))
    exploded = df.select(
        F.col(key_col), F.explode_outer(toks).alias("__tok")
    )
    bucket = (
        F.conv(F.md5(F.col("__tok")).substr(1, 8), 16, 10).cast("long")
        % F.lit(n_buckets)
    )
    scored = (
        exploded.withColumn("__b", bucket)
        .join(
            F.broadcast(weights.withColumnRenamed("bucket", "__b")),
            "__b",
            "left",
        )
        .groupBy(key_col)
        .agg(
            F.count("__tok").alias("n_tokens"),
            F.sum("weight").alias("__wsum"),
        )
    )
    return scored.select(
        key_col,
        F.col("n_tokens").cast("long"),
        (
            F.col("__wsum").cast("double")
            / (F.col("n_tokens") * 1000).cast("double")
        ).alias("score"),
    )


def _clean_tokens(text_col: str) -> Column:
    """Lowercased whitespace tokens with empties removed — the shared
    pre-tokenization of the LM scorers (perplexity, DSIR)."""
    return F.filter(
        _tokens(F.lower(F.col(text_col))), lambda x: x != F.lit("")
    )


class BigramLM(NamedTuple):
    """A hashed bigram LM built by ``lm_reference_model``: per-bigram
    milli-nat costs ``model`` (__h1, __h2, __m), seen-context
    unseen-continuation costs ``ctx_unseen`` (__h1, __mu), and the bucket
    count both were hashed into."""

    model: DataFrame
    ctx_unseen: DataFrame
    n_buckets: int


def _hashed_bigrams(
    frame: DataFrame, n_buckets: int, text_col: str, key_col: str
) -> DataFrame:
    """(key, __h1, __h2) per token bigram, tokens hashed into ``n_buckets``
    via first-8-hex-of-md5 (stable across engines)."""

    def bucket(c: Column) -> Column:
        return (
            F.conv(F.md5(c).substr(1, 8), 16, 10).cast("long")
            % F.lit(n_buckets)
        )

    # tokenize into a REAL column first: element_at inside a
    # transform lambda re-evaluates captured subtrees per element
    # (the trap language_id documents), so indexing the split
    # expression directly would re-tokenize O(T) times per doc
    base = frame.select(
        F.col(key_col), _clean_tokens(text_col).alias("__tk")
    )
    tk = F.col("__tk")
    n = F.size(tk)
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(tk, i).alias("w1"),
                F.element_at(tk, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return base.select(
        F.col(key_col), F.explode_outer(pairs).alias("__bg")
    ).select(
        key_col,
        bucket(F.col("__bg.w1")).alias("__h1"),
        bucket(F.col("__bg.w2")).alias("__h2"),
    )


def lm_reference_model(
    ref_df: DataFrame,
    n_buckets: int = 2048,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> BigramLM:
    """The model half of ``lm_perplexity_score``: the add-one-smoothed
    hashed bigram LM of the reference corpus, lazy. Build it once and
    score any number of frames against it with ``lm_score`` (a stream
    scores every micro-batch against one model)."""
    from .dedup import _scoped_persist

    # consumed twice (model rows + context totals) — persist the tiny
    # ≤min(|ref bigrams|, V²)-row aggregate so the reference corpus is
    # tokenized once (released via dedup.release_intermediates)
    rb = _scoped_persist(
        _hashed_bigrams(ref_df, n_buckets, text_col, key_col)
        .where(F.col("__h1").isNotNull())
        .groupBy("__h1", "__h2")
        .agg(F.count(F.lit(1)).alias("__b"))
    )
    ctx = rb.groupBy("__h1").agg(F.sum("__b").alias("__u"))
    model = rb.join(ctx, "__h1").select(
        "__h1",
        "__h2",
        F.round(
            F.lit(-1000.0)
            * F.log(
                (F.col("__b") + 1).cast("double")
                / (F.col("__u") + F.lit(n_buckets)).cast("double")
            ),
            0,
        )
        .cast("long")
        .alias("__m"),
    )
    # seen context, unseen continuation: p = 1 / (U + V)
    ctx_unseen = ctx.select(
        "__h1",
        F.round(
            F.lit(-1000.0)
            * F.log(
                F.lit(1.0) / (F.col("__u") + F.lit(n_buckets)).cast("double")
            ),
            0,
        )
        .cast("long")
        .alias("__mu"),
    )
    return BigramLM(model, ctx_unseen, n_buckets)


def lm_score(
    df: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    key_col: str = "doc_id",
    head_nll: float = 6.0,
    tail_nll: float = 7.0,
) -> DataFrame:
    """The scoring half of ``lm_perplexity_score``: ``df`` scored and
    bucketed against a model built by ``lm_reference_model``."""
    if head_nll > tail_nll:
        raise ValueError(
            f"head_nll ({head_nll}) must be <= tail_nll ({tail_nll}): "
            "the head-first bucket CASE would otherwise label "
            "(tail_nll, head_nll] docs 'head' and pass them through a "
            "!= 'tail' gate"
        )
    # unseen context: p = 1 / V — same round(·ln) pipeline as the model
    # rows so both engines quantize the constant identically
    oov = F.round(
        F.lit(1000.0) * F.log(F.lit(float(lm.n_buckets))), 0
    ).cast("long")
    scored = (
        _hashed_bigrams(df, lm.n_buckets, text_col, key_col)
        .join(F.broadcast(lm.model), ["__h1", "__h2"], "left")
        .join(F.broadcast(lm.ctx_unseen), ["__h1"], "left")
        .groupBy(key_col)
        .agg(
            F.count("__h1").alias("n_bigrams"),
            F.sum(
                F.when(
                    F.col("__h1").isNotNull(),
                    F.coalesce(F.col("__m"), F.col("__mu"), oov),
                )
            ).alias("__milli"),
        )
    )
    avg_nll = F.when(
        F.col("n_bigrams") > 0,
        F.col("__milli").cast("double")
        / (F.col("n_bigrams") * 1000).cast("double"),
    )
    return scored.select(
        key_col,
        F.col("n_bigrams").cast("long"),
        avg_nll.alias("avg_nll"),
        F.when(avg_nll.isNull(), F.lit("unscored"))
        .when(avg_nll < F.lit(float(head_nll)), F.lit("head"))
        .when(avg_nll > F.lit(float(tail_nll)), F.lit("tail"))
        .otherwise(F.lit("middle"))
        .alias("ppl_bucket"),
    )


def lm_perplexity_score(
    df: DataFrame,
    ref_df: DataFrame,
    n_buckets: int = 2048,
    text_col: str = "text",
    key_col: str = "doc_id",
    head_nll: float = 6.0,
    tail_nll: float = 7.0,
) -> DataFrame:
    """CCNet-style LM perplexity scoring (Wenzek et al. 2019: filter a
    crawl by the perplexity of a language model trained on a clean
    reference corpus, then bucket head/middle/tail). The reference used
    a KenLM 5-gram model; here the model is a hashed add-one-smoothed
    BIGRAM LM trained on ``ref_df`` with Spark itself — the operator
    contract (reference corpus in, per-doc perplexity + bucket out) is
    the same, and a real KenLM scorer would slot in as one mapInPandas.

    Tokens hash into ``n_buckets`` via first-8-hex-of-md5 (stable across
    engines); the model is
    ``p(w2|w1) = (B(w1,w2) + 1) / (U(w1) + V)`` with ``U`` the context
    occurrence count and ``V = n_buckets``. Each bigram contributes an
    INTEGER milli-nat cost ``round(-1000·ln p)`` so the per-doc sum is
    order-independent and bit-exact at any parallelism (the ``ln`` itself
    is libm-dependent by ≤1 ulp ≈ 1e-13 relative — flipping a rounded
    integer milli-nat needs the true value within 1e-10 of a half, so the
    quantization absorbs it; same argument as the 6-dp rounds in
    ``temperature_sample``). ``avg_nll`` is one exact integer/integer
    double division at the end; docs with <2 tokens score NULL and bucket
    ``unscored``. Buckets: ``head`` (avg_nll < head_nll — most
    reference-like), ``middle``, ``tail`` (> tail_nll). CCNet derives the
    two thresholds as corpus perplexity percentiles; they're explicit
    parameters here so the cut is auditable (a percentile variant is one
    tiny extra agg over the |docs|-row score relation). Tokenization is
    lowercased whitespace splitting; for CCNet's fuller normalization
    (accent folding, digit bucketing) compose with the F2/F3 normalize
    functions (functions/strings.py) on the text column first — the
    operator scores whatever text it's given.

    ``head_nll`` must sit at or below ``tail_nll`` — the bucket CASE
    tests ``head`` first, so a head cut above the tail cut would relabel
    ``(tail_nll, head_nll]`` docs ``head`` and sneak tail-perplexity
    docs past any ``!= 'tail'`` gate. Enforced here (ValueError) rather
    than documented, so misconfigured callers fail loudly.

    Plan at 100 TB: the model is built from the REFERENCE corpus (small,
    curated — Wikipedia-sized, not crawl-sized) with two map-side-combined
    hash aggs bounded by observed-bigram cardinality ≤ min(|ref bigrams|,
    V²); both model relations broadcast. The scored corpus is scanned
    once: narrow bigram explode → two broadcast left joins → ONE
    groupBy(key) whose map-side combine collapses bigram rows to one
    (key, count, milli-sum) row per doc per partition before the only
    shuffle — document text never shuffles.
    """
    return lm_score(
        df,
        lm_reference_model(ref_df, n_buckets, text_col, key_col),
        text_col,
        key_col,
        head_nll,
        tail_nll,
    )


def dsir_importance_weight(
    df: DataFrame,
    target_df: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by the log likelihood ratio between a TARGET-domain distribution and
    the RAW-corpus distribution, both estimated as add-one-smoothed
    bag-of-hashed-n-gram models (unigrams + bigrams hashed into
    ``n_buckets``, the paper's feature space). High-weight docs look like
    the target; DSIR then Gumbel-resamples by weight — composable here
    with the deterministic samplers (rank by weight, feed
    ``group_sample_k`` / a threshold filter).

    Per-bucket log ratio ``λ[b] = round(1000·(ln p̂_target[b] −
    ln p̂_raw[b]))`` is an INTEGER milli-nat (order-independent exact
    per-doc sums; the 1e-3-nat quantization absorbs ≤1-ulp libm ``ln``
    differences, see ``lm_perplexity_score``). Output per doc:
    ``n_feats``, exact ``milli_weight`` (Σλ, the paper's unnormalized
    log ratio), and ``avg_log_ratio`` (one exact integer/integer double
    division — length-normalized for cross-length comparison). Docs with
    no tokens weight NULL.

    Plan at 100 TB: both models come out of ONE map-side-combined hash
    agg bounded at ``n_buckets`` rows (feature rows are tagged with
    their corpus of origin and unioned — narrow), totals via a free
    single-partition window over that tiny aggregate; the λ table
    (≤ V rows) broadcasts onto the scored corpus: narrow unigram+bigram
    explode → broadcast left join → ONE groupBy(key) whose map-side
    combine collapses feature rows to one (key, count, milli-sum) row
    per doc per partition before the only shuffle. The corpus is scanned
    once per model it participates in (raw model + scoring); document
    text never shuffles."""

    def feats(frame: DataFrame) -> DataFrame:
        # tokens as a real column first — see lm_perplexity_score's
        # bigrams(): captured subtrees re-evaluate per transform element
        base = frame.select(
            F.col(key_col), _clean_tokens(text_col).alias("__tk")
        )
        tk = F.col("__tk")
        n = F.size(tk)
        bi = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(tk, i), F.element_at(tk, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return base.select(
            F.col(key_col), F.explode_outer(F.concat(tk, bi)).alias("__f")
        ).select(
            key_col,
            (
                F.conv(F.md5(F.col("__f")).substr(1, 8), 16, 10).cast("long")
                % F.lit(n_buckets)
            ).alias("__b"),
        )

    # both models in ONE aggregation: tag each feature row with its
    # corpus of origin, union (narrow), and count per (bucket, side) —
    # no bucket-table outer join (Spark can't broadcast a full outer,
    # so the join shape would sort-merge two tiny relations), and the
    # totals fall out of the same ≤V-row aggregate via a free
    # single-partition window
    tagged = feats(target_df).select(
        "__b", F.lit(1).alias("__t"), F.lit(0).alias("__r")
    ).unionByName(
        feats(df).select("__b", F.lit(0).alias("__t"), F.lit(1).alias("__r"))
    )
    cnts = (
        tagged.where(F.col("__b").isNotNull())
        .groupBy("__b")
        .agg(F.sum("__t").alias("__ct"), F.sum("__r").alias("__cr"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    lam = cnts.select(
        "__b",
        F.round(
            F.lit(1000.0)
            * (
                F.log(
                    (F.col("__ct") + 1).cast("double")
                    / (F.sum("__ct").over(w) + F.lit(n_buckets)).cast("double")
                )
                - F.log(
                    (F.col("__cr") + 1).cast("double")
                    / (F.sum("__cr").over(w) + F.lit(n_buckets)).cast("double")
                )
            ),
            0,
        )
        .cast("long")
        .alias("__lam"),
    )
    scored = (
        feats(df)
        .join(F.broadcast(lam), ["__b"], "left")
        .groupBy(key_col)
        .agg(
            F.count("__b").alias("n_feats"),
            F.sum(
                F.when(F.col("__b").isNotNull(), F.col("__lam"))
            ).alias("milli_weight"),
        )
    )
    return scored.select(
        key_col,
        F.col("n_feats").cast("long"),
        F.col("milli_weight").cast("long"),
        F.when(
            F.col("n_feats") > 0,
            F.col("milli_weight").cast("double")
            / (F.col("n_feats") * 1000).cast("double"),
        ).alias("avg_log_ratio"),
    )


def dsir_gumbel_topk(
    scored: DataFrame,
    k: int,
    temperature: float = 1.0,
    key_col: str = "doc_id",
    weight_col: str = "milli_weight",
) -> DataFrame:
    """DSIR's SELECTION step: sample k documents without replacement
    with probability ∝ exp(weight / temperature) via the Gumbel-top-k
    trick (add an independent Gumbel to each log weight, keep the k
    largest — Xie et al. 2023 §2.3). The Gumbel is DETERMINISTIC and
    engine-independent: ``u = (md5-bucket(key) + 0.5) / 2³²`` (the
    shared md5 determinism trick, offset so u ∈ (0,1)), then
    ``g = −ln(−ln u)`` quantized to integer milli-nats like every other
    log in this family. Reproducible across runs, engines and
    partitionings — a real RNG changes one line and breaks the oracle.

    Plan at 100 TB: the perturbed key is a narrow projection and the
    global top-k lowers to TakeOrderedAndProject (per-partition heaps,
    one k-row reduce to the driver) — no full sort, no shuffle. The
    k-row rank window afterwards is free."""
    from pyspark.sql.window import Window

    u = (_md5_bucket(key_col) + F.lit(0.5)) / F.lit(_MD5_BUCKET_SCALE)
    g_milli = F.round(
        F.lit(1000.0 * float(temperature)) * -F.log(-F.log(u)), 0
    ).cast("long")
    sel = (
        scored.where(F.col(weight_col).isNotNull())
        .withColumn("sel_milli", F.col(weight_col) + g_milli)
        .orderBy(F.desc("sel_milli"), F.asc(key_col))
        .limit(k)
    )
    w = Window.orderBy(F.desc("sel_milli"), F.asc(key_col))
    return sel.select(
        key_col,
        F.col(weight_col).cast("long"),
        F.col("sel_milli").cast("long"),
    ).withColumn("sel_rank", F.row_number().over(w).cast("long"))


# Toy BPE merge table derived from PUBLIC English frequency statistics
# (the EN_BIGRAMS profile above plus the most common affixes), rank =
# position. A production deployment loads its tokenizer's published
# merges (GPT-2's vocab.bpe is public); the apply algorithm is identical.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"),
    ("o", "r"), ("t", "i"), ("e", "s"), ("o", "f"), ("i", "s"),
    ("i", "t"), ("a", "l"), ("a", "r"), ("in", "g"), ("e", "d"),
)


def bpe_apply_word(
    word: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    """Segment one word with trained BPE merges: repeatedly merge the
    LEFTMOST occurrence of the LOWEST-RANK adjacent pair until no pair
    is in the table — single-occurrence steps are equivalent to the
    classic merge-all-occurrences formulation (after merging the
    leftmost occurrence the same pair stays lowest-ranked until its
    remaining occurrences are consumed) and mirror the oracle's
    recursive CTE step exactly."""
    seg = list(word)
    while len(seg) >= 2:
        best = None
        for i in range(len(seg) - 1):
            r = ranks.get((seg[i], seg[i + 1]))
            if r is not None and (best is None or r < best[0]):
                best = (r, i)
        if best is None:
            break
        i = best[1]
        seg[i : i + 2] = [seg[i] + seg[i + 1]]
    return seg


def bpe_encode(
    df: DataFrame,
    merges: tuple[tuple[str, str], ...] = BPE_MERGES,
    text_col: str = "text",
    key_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """BPE tokenization over the corpus (Sennrich et al. 2016): apply a
    trained merge table to every document and publish the real subword
    token count beside the word count — the budget number every
    training-data decision (mixtures, shard packing, contract pricing)
    actually runs on, where ``token_counts`` only approximates.

    The merge application is a genuinely iterative per-word algorithm,
    so it crosses to Python ONCE via Arrow-batched mapInPandas (the same
    boundary production tokenizers occupy) with per-batch word
    memoization; the plan stays a narrow scan projection — no shuffle,
    no collect. Words are lowercased whitespace tokens, merges are
    word-internal (no end-of-word sentinel — that's a constructor flag
    in real tokenizers, orthogonal to the plan shape).

    ``carry_cols`` pass through the Python crossing verbatim (same Arrow
    batch, no re-shuffle) — composed pipelines carry text/source/ledger
    columns alongside the counts instead of joining them back on key,
    which would shuffle the corpus a second time."""
    import pandas as pd

    from ..session import ship_package

    spark = df.sparkSession
    ship_package(spark)
    ranks = {pair: i for i, pair in enumerate(merges)}
    carry_ddl = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in df.select(*carry_cols).schema.fields
    )
    out_schema = (
        f"{key_col} long{carry_ddl}, n_words long, n_bpe_tokens long"
    )

    def run(batches):
        memo: dict[str, int] = {}
        for pdf in batches:
            keys, nw, nb = [], [], []
            for key, text in zip(pdf[key_col], pdf[text_col]):
                words = (
                    str(text).lower().split() if text is not None else []
                )
                total = 0
                for w in words:
                    n = memo.get(w)
                    if n is None:
                        n = len(bpe_apply_word(w, ranks))
                        memo[w] = n
                    total += n
                keys.append(key)
                nw.append(len(words))
                nb.append(total)
            out = {key_col: keys}
            for c in carry_cols:
                # positional, like the list-built columns: pd.DataFrame
                # aligns Series by index, so a raw pdf[c] would silently
                # depend on the Arrow batch keeping a default RangeIndex
                out[c] = pdf[c].to_numpy()
            out["n_words"] = nw
            out["n_bpe_tokens"] = nb
            yield pd.DataFrame(out)

    cols = [key_col, text_col] + [
        c for c in carry_cols if c not in (key_col, text_col)
    ]
    return df.select(*cols).mapInPandas(run, out_schema)


def bpe_train(
    df: DataFrame,
    num_merges: int,
    text_col: str = "text",
    key_col: str = "doc_id",
    merges_per_round: int = 8,
    exact: bool = True,
    stats: dict | None = None,
) -> list[tuple[str, str, int]]:
    """Learn a BPE merge table FROM the corpus (Sennrich et al. 2016,
    algorithm 1) with Spark doing the counting: the corpus is scanned
    ONCE into a (word, count) relation — bounded by the distinct-word
    vocabulary, orders of magnitude smaller than the corpus — and each
    round runs two tiny jobs over that persisted relation: a weighted
    adjacent-pair count (explode + one hash agg) and a bounded top-K
    collect, then ONE narrow fold applies every merge the round
    accepted. Ties break deterministically (count desc, pair
    lexicographic). Returns [(a, b, count), ...] in merge order — the
    driver-side result IS the model, like the trained weights every
    scorer here broadcasts.

    BATCHED merge learning, EXACT by construction (round 10 — one
    driver round-trip per merge is 32k Spark jobs at a production
    vocab): from the round's sorted candidate list, accept up to
    ``merges_per_round`` pairs greedily where each accepted pair (after
    the first) must (i) share no token with any already-accepted pair
    and (ii) have count STRICTLY above both every skipped token-sharing
    candidate and the collection horizon. Why that equals sequential
    BPE: applying an accepted merge only DECREASES counts of pairs
    sharing its tokens and leaves disjoint pairs untouched, and every
    pair it newly creates is bounded by the count of a token-sharing
    pair — so at each sequential step the next accepted pair still
    strictly dominates everything else, shared, new, and unseen alike
    (strictness also settles the tie-break: nothing can tie it).
    Rounds collapse ~``merges_per_round``× wherever the count
    distribution has distinct heads; adversarial all-tied corpora
    degrade to one merge per round, never to a wrong table (pinned by
    test against the one-per-round reference and the published
    Sennrich walk-through). Measured on tie-heavy fixtures the exact
    collapse is ~1.6-2.3× — strict dominance is the price of
    bit-identical tables.

    ``exact=False`` is the standard APPROXIMATE batching (what
    production multi-merge trainers do): accept every token-disjoint
    candidate up to ``merges_per_round``, skipping the dominance
    checks. Rounds then genuinely collapse toward
    merges ÷ merges_per_round — the ~100× driver-round-trip cut at a
    32k vocab — at the cost that the learned table can deviate from
    sequential BPE where a deferred recount would have reordered
    merges (still fully deterministic and reproducible: same corpus,
    same table). Use it for training thoughput; keep ``exact=True``
    anywhere a twin or a published walk-through must reproduce.

    ``stats``, if given, records {'rounds': int} — the smoke's
    rounds ≪ merges evidence.

    At 100 TB: the corpus-wide work is the single word-count agg
    (map-side combined); the loop never touches the corpus again. Real
    tokenizer training samples the corpus first — compose with
    ``stratified_hash_sample``."""
    from .dedup import _scoped_persist, lineage_cut, release_intermediates

    chars = F.transform(
        F.sequence(F.lit(1), F.length(F.col("word"))),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    words = _scoped_persist(
        df.select(
            F.explode(_clean_tokens(text_col)).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("word", "cnt", chars.alias("s"))
    )
    merges: list[tuple[str, str, int]] = []
    rounds = 0
    cur = words
    while len(merges) < num_merges:
        k = max(1, min(merges_per_round, num_merges - len(merges)))
        limit = max(64, 4 * k)
        pairs = cur.select(
            "cnt",
            F.explode(
                F.when(
                    F.size("s") >= 2,
                    F.arrays_zip(
                        F.slice(F.col("s"), 1, F.size("s") - 1).alias("a"),
                        F.slice(F.col("s"), 2, F.size("s") - 1).alias("b"),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<a:string,b:string>>")
                )
            ).alias("p"),
        )
        cand = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(limit)
            .collect()
        )
        rounds += 1
        if not cand or cand[0]["n"] < 2:
            break
        # unseen candidates (below the collect horizon) are bounded by
        # the last collected count; a full collect bounds them by 0
        floor = int(cand[-1]["n"]) if len(cand) == limit else 0
        accepted: list[tuple[str, str, int]] = []
        toks: set[str] = set()
        bar = 0
        for i, r in enumerate(cand):
            a, b, n = r["a"], r["b"], int(r["n"])
            if n < 2:
                break
            if not accepted:
                accepted.append((a, b, n))
                toks.update((a, b))
                if len(accepted) == k:
                    break
                continue
            if a in toks or b in toks:
                bar = max(bar, n)
                continue
            if not exact:
                accepted.append((a, b, n))
                toks.update((a, b))
                if len(accepted) == k:
                    break
                continue
            if n <= max(bar, floor):
                break  # nothing later can dominate either (sorted desc)
            # equal-count lookahead: a token-sharing pair TIED at n that
            # sorts after this candidate can bound a new pair that also
            # ties it — strict dominance fails, and since everything
            # later is ≤ n, the round can accept nothing more (caught
            # by the ('co','lu') vs ('lu','m') regression: ('o','lu')
            # tied at the same count but sorted after ('lu','m'))
            tied_conflict = False
            for r2 in cand[i + 1:]:
                if int(r2["n"]) != n:
                    break
                if r2["a"] in toks or r2["b"] in toks:
                    tied_conflict = True
                    break
            if tied_conflict:
                break
            accepted.append((a, b, n))
            toks.update((a, b))
            if len(accepted) == k:
                break
        merges.extend(accepted)
        # ONE fold applies the whole batch: merges are token-disjoint,
        # so sequential nesting inside one projection is exact
        def _fold(inner, a: str, b: str):
            ab = a + b
            return F.aggregate(
                inner,
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == a)
                    & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab))
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            )

        s_expr = F.col("s")
        for a, b, _n in accepted:
            s_expr = _fold(s_expr, a, b)
        if len(merges) >= num_merges:
            break  # no need to materialize a segmentation nobody reads
        # lineage CUT, not just cache: a cached-but-uncut chain re-runs
        # Catalyst analysis over every prior round's fold (measured
        # super-linear by round 16); localCheckpoint keeps each round
        # O(vocab) regardless of round number
        nxt = lineage_cut(
            cur.select("word", "cnt", s_expr.alias("s")), None, eager=True
        )
        cur.unpersist()
        cur = nxt
    release_intermediates()
    if stats is not None:
        stats["rounds"] = rounds
    return merges


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Per-document top-k characteristic terms by tf-idf — the corpus-level
    text statistic (keyword extraction / topic hints) the per-doc metrics
    can't produce.

    Scoring uses the log-free rational idf ``(N + 1) / (df + 1)`` — a
    documented variant: pure integer arithmetic in doubles is bit-exact
    across engines, where ``ln`` is libm-dependent and can flip a rounded
    6th decimal (same ulp trap as interpolated percentiles).

    Plan shape at 100 TB: one explode + two hash aggregates (term counts
    per doc; document frequency per term), then the per-term idf table —
    |vocabulary| rows, ≪ corpus — broadcasts back onto the per-doc term
    counts; top-k per doc is a WindowGroupLimit, never a global sort.
    """
    toks = _tokens(F.lower(F.col(text_col)))
    terms = df.select(F.col(key_col).alias("key"), F.explode(toks).alias("term"))
    tf = terms.groupBy("key", "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(doc_freq), on="term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.col("n_docs") + F.lit(1.0))
                / (F.col("df") + F.lit(1.0)),
                6,
            ),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("key").alias(key_col),
            "term",
            "tfidf",
            F.col("rank").cast("long").alias("rank"),
        )
    )


# URL shape: scheme + non-space run; authority = run before /?#; host =
# authority minus optional userinfo@ prefix and :port suffix (a blocklist
# keyed on registered_domain must not be bypassable by writing
# user@evil.com or evil.com:8080). RE2/Java common subset (no lookaround)
# so the DuckDB oracle evaluates identically.
URL_PATTERN = r"https?://[^\s]+"
AUTHORITY_PATTERN = r"https?://([^/?#\s]+)"
HOST_IN_AUTHORITY_PATTERN = r"^(?:[^@]*@)?([^:]+)"
REG_DOMAIN_PATTERN = r"([^.]+\.[^.]+)$"
REG_DOMAIN3_PATTERN = r"([^.]+\.[^.]+\.[^.]+)$"

# Trimmed public-suffix list (publicsuffix.org) — the multi-label suffixes
# under which registrable domains sit one level deeper than the bare-TLD
# rule assumes. A production build ships the full ~9k-entry list the same
# way; the plan below is size-independent (broadcast dim join).
PUBLIC_SUFFIXES: tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "ltd.uk",
    "plc.uk", "sch.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au",
    "co.nz", "org.nz", "net.nz", "ac.nz", "govt.nz",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
    "co.za", "org.za", "web.za", "gov.za",
    "com.mx", "org.mx", "gob.mx",
    "com.ar", "com.tr", "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.sg", "edu.sg", "gov.sg",
    "com.my", "com.hk", "com.tw", "org.tw",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph", "ngo.ph",
)


def psl_dim(spark, suffixes: tuple[str, ...] = PUBLIC_SUFFIXES) -> DataFrame:
    """The public-suffix list as a broadcast dimension relation — join it
    into ``extract_urls``/``domain_stats`` to fix ``co.uk``-class
    registered-domain rollups. Tiny (≤ ~9k rows even in full form), so
    always broadcast. Built through ``sources.tables.local_table``: an
    Arrow-backed ``LocalRelation`` that evaluates inside the JVM with no
    Python task, so the join starts no Python worker pool."""
    return local_table(spark, [(s,) for s in suffixes], "public_suffix string")


def extract_urls(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    psl: DataFrame | None = None,
) -> DataFrame:
    """Per-document URL extraction + domain normalization — the first
    step of every web-corpus curation pass (domain blocklists, per-site
    caps, provenance stats). One ``regexp_extract_all`` + explode per
    row, then pure string expressions: host = the authority component
    with userinfo/port stripped, lowercased, leading ``www.`` removed.

    registered_domain: with ``psl`` (a ``psl_dim`` public-suffix-list
    relation, broadcast-left-joined on the host's last two labels) a
    host under a multi-label suffix keeps THREE labels —
    ``shop.acme.co.uk`` → ``acme.co.uk`` — otherwise the last two
    labels apply (correct for plain TLDs). Without ``psl`` the bare
    two-label approximation is used. Returns (``key_col``, url, host,
    registered_domain); the only join is against the broadcast PSL —
    curation filters semi-join this at scan speed."""
    urls = df.select(
        F.col(key_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
        ).alias("url"),
    )
    authority = F.lower(F.regexp_extract(F.col("url"), AUTHORITY_PATTERN, 1))
    host_raw = F.regexp_extract(authority, HOST_IN_AUTHORITY_PATTERN, 1)
    host = F.regexp_replace(host_raw, r"^www\.", "")
    base = urls.select(
        F.col(key_col),
        "url",
        host.alias("host"),
        F.regexp_extract(host, REG_DOMAIN_PATTERN, 1).alias("__last2"),
    )
    if psl is None:
        return base.withColumnRenamed("__last2", "registered_domain")
    joined = base.join(
        F.broadcast(psl),
        base["__last2"] == psl["public_suffix"],
        "left",
    )
    # a host that IS a bare public suffix (no registrable label) has no
    # third label — the 3-label extract returns '' — so fall back to the
    # two-label form rather than bucketing such hosts under empty string
    extract3 = F.regexp_extract(F.col("host"), REG_DOMAIN3_PATTERN, 1)
    reg = F.when(
        F.col("public_suffix").isNotNull() & (extract3 != F.lit("")),
        extract3,
    ).otherwise(F.col("__last2"))
    return joined.select(
        F.col(key_col), "url", "host", reg.alias("registered_domain")
    )


def domain_stats(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    psl: DataFrame | None = None,
) -> DataFrame:
    """Per-registered-domain corpus stats over ``extract_urls``: URL
    occurrences and distinct documents citing the domain. One hash
    aggregation on the domain key — the relation a per-site cap or
    blocklist join consumes (broadcast-sized: |domains| ≪ |urls|).
    Pass ``psl`` (see ``psl_dim``) for public-suffix-aware rollups."""
    u = extract_urls(df, text_col, key_col, psl=psl)
    return u.groupBy("registered_domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct(key_col).alias("n_docs"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    min_tokens: int = 30,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_punct_ratio: float = 0.2,
    max_upper_ratio: float = 0.3,
    max_dup_token_frac: float = 0.65,
    max_dup_shingle_frac: float = 0.35,
    min_stopword_ratio: float = 0.01,
    stopwords: tuple[str, ...] = EN_STOPWORDS,
) -> DataFrame:
    """Gopher-style composed quality gate: every per-document signal this
    module computes piecemeal (length, word shape, punctuation/caps,
    repetition, stopword density), evaluated against explicit thresholds
    in ONE pass, returning the keep/drop DECISION with its reasons —
    the operator a curation pipeline actually runs, where the individual
    metric queries are its debugging views.

    Returns (``key_col``, n_tokens, keep, reasons) where ``reasons`` is
    the comma-joined list of failed rule names in fixed rule order
    (empty string ⇔ keep). Thresholds compare against the same
    6-decimal-rounded ratios the metric operators publish, so the
    decision is bit-reproducible in any engine.

    All signals are Catalyst array/string expressions over one scan
    projection — no explode, no shuffle, no Python; at 100 TB the filter
    runs at parquet-scan speed and the output is a narrow decision
    column you can semi-join against the corpus."""
    t = F.col(text_col)
    toks = F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != F.lit(""))
    n_tok = F.size(toks)
    n_chars = F.length(t).cast("double")
    n_tok_d = n_tok.cast("double")
    # exact token-length mean — whitespace formatting must not count as
    # letter mass (same formula as _quality_cols)
    tok_chars = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    ).cast("double")
    mean_word_len = F.round(
        F.when(n_tok > 0, tok_chars / n_tok_d).otherwise(0.0), 6
    )
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).cast("double")
    punct_ratio = F.round(
        F.when(n_chars > 0, punct / n_chars).otherwise(0.0), 6
    )
    upper = F.length(F.regexp_replace(t, r"[^A-Z]", "")).cast("double")
    upper_ratio = F.round(
        F.when(n_chars > 0, upper / n_chars).otherwise(0.0), 6
    )
    dup_tok = F.round(
        F.when(
            n_tok > 0,
            (n_tok - F.size(F.array_distinct(toks))).cast("double") / n_tok_d,
        ).otherwise(0.0),
        6,
    )
    sh = F.when(
        n_tok >= 3,
        F.transform(
            F.sequence(F.lit(1), n_tok - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_sh = F.size(sh)
    dup_sh = F.round(
        F.when(
            n_sh > 0,
            (n_sh - F.size(F.array_distinct(sh))).cast("double")
            / n_sh.cast("double"),
        ).otherwise(0.0),
        6,
    )
    stop_hits = F.size(
        F.filter(toks, lambda x: F.lower(x).isin(*stopwords))
    ).cast("double")
    stopword_ratio = F.round(
        F.when(n_tok > 0, stop_hits / n_tok_d).otherwise(0.0), 6
    )
    rules = [
        ("too_short", n_tok < min_tokens),
        ("too_long", n_tok > max_tokens),
        (
            "word_len",
            (mean_word_len < min_mean_word_len)
            | (mean_word_len > max_mean_word_len),
        ),
        ("punct", punct_ratio > max_punct_ratio),
        ("upper", upper_ratio > max_upper_ratio),
        ("rep_token", dup_tok > max_dup_token_frac),
        ("rep_shingle", dup_sh > max_dup_shingle_frac),
        ("stopword", stopword_ratio < min_stopword_ratio),
    ]
    # NULL text would make every rule condition NULL → concat_ws skips
    # them all → reasons '' and keep TRUE; a quality gate must fail
    # closed on the most degenerate input, so it gets its own rule
    reasons = F.when(t.isNull(), F.lit("null_text")).otherwise(
        F.concat_ws(
            ",",
            *[
                F.when(cond, F.lit(name)).otherwise(F.lit(None))
                for name, cond in rules
            ],
        )
    )
    return df.select(
        F.col(key_col),
        n_tok.cast("long").alias("n_tokens"),
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Posting lists for full-text retrieval: one ``(term, key, tf, dl)``
    row per distinct term per document (lowercased whitespace tokens),
    carrying the document length so scoring never re-reads the corpus.

    Plan: explode + one hash aggregation on (key, term) — the standard
    index build; ``dl`` is ``size(tokens)`` computed in the same scan
    projection (no second pass over the text). At scale the index is
    written partitioned/bucketed BY TERM so a query's postings prune to
    the handful of term partitions it touches (`bm25_topk` filters on
    term before anything else for exactly that reason)."""
    toks = _tokens(F.lower(F.col(text_col)))
    terms = df.select(
        F.col(key_col).alias("key"),
        F.size(toks).cast("long").alias("dl"),
        F.explode(toks).alias("term"),
    )
    return terms.groupBy("key", "term", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k retrieval over an on-the-fly inverted index
    (``inverted_index``): per query term,
    ``idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`` with the log-free
    rational idf ``(N − df + 0.5) / (df + 0.5)`` (same libm-free
    determinism argument as ``tfidf_top_terms``); per-term scores round
    to 6 decimals and sum as DECIMAL so the total is order-independent
    across engines and parallelism.

    Query-path plan at 100 TB: the FIRST operation is
    ``term IN (query)`` against the index — with a term-partitioned
    index that is partition pruning down to |query| posting lists;
    everything after (df-per-term, the N/avgdl scalars, scoring) is
    broadcast-sized. The only shuffle carries candidate postings —
    documents containing at least one query term. Returns
    ``(key_col, score, n_matched)``, top ``k`` by (score desc, key)."""
    from .dedup import _scoped_persist

    index = inverted_index(df, text_col, key_col)
    # `cand` feeds both the per-term df count and the scoring join;
    # persist so the index build runs once (callers release via
    # dedup.release_intermediates)
    cand = _scoped_persist(
        index.where(F.col("term").isin([t.lower() for t in query_terms]))
    )
    idf_t = cand.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    # ONE corpus pass for both scalars (count + avgdl) — includes
    # zero-token docs, which the postings-derived dl would miss
    stats = df.select(
        F.size(_tokens(F.lower(F.col(text_col)))).cast("long").alias("__dl")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("__dl").alias("avgdl"),
    )
    tfn = (F.col("tf") * (F.lit(k1) + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    idf = (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    scored = (
        cand.join(F.broadcast(idf_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score", F.round(idf * tfn, 6).cast("decimal(18,6)")
        )
    )
    agg = scored.groupBy("key").agg(
        F.round(F.sum("term_score"), 6).cast("double").alias("score"),
        F.count(F.lit(1)).alias("n_matched"),
    )
    # global top-k with a total order (score desc, key asc): Spark plans
    # TakeOrderedAndProject (per-partition top-k + driver merge), never a
    # full sort; the (score, key) total order makes the k-boundary
    # deterministic even on rounded-score ties
    return agg.orderBy(F.desc("score"), F.asc("key")).limit(k).select(
        F.col("key").alias(key_col), "score", "n_matched"
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    chunk_tokens: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Sliding-window document chunking — the pre-embedding / pre-training
    splitter: whitespace tokens in windows of ``chunk_tokens`` advancing by
    ``chunk_tokens − overlap``, so consecutive chunks share ``overlap``
    tokens of context. One narrow map + explode (same row-explosion shape
    as frame sampling); chunks keep their parent key and position so
    downstream stages re-assemble or attribute spans without a join.

    Returns (key, chunk_no, chunk_text, n_chunk_tokens).
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")

    # token array bound once (single-element-array map; a captured split
    # would re-tokenize per chunk)
    def chunks(toks: Column) -> Column:
        n = F.size(toks)
        n_chunks = F.ceil(
            F.greatest(n - overlap, F.lit(1)) / F.lit(float(stride))
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(toks, i * stride + 1, chunk_tokens),
        )

    arr = F.element_at(
        F.transform(F.array(_tokens(F.col(text_col))), chunks), 1
    )
    out = df.select(
        F.col(key_col), F.posexplode(arr).alias("chunk_no", "toks")
    )
    return out.select(
        key_col,
        "chunk_no",
        F.array_join(F.col("toks"), " ").alias("chunk_text"),
        F.size(F.col("toks")).cast("long").alias("n_chunk_tokens"),
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Key-collision fingerprint (OpenRefine-style): lowercase, tokenize,
    sort+dedup tokens, md5 the canonical form. Word-order-insensitive
    duplicate key — one narrow map, dedup is then a groupBy on the print."""
    canon = F.array_join(
        F.array_sort(F.array_distinct(_tokens(F.lower(F.col(text_col))))), " "
    )
    return df.select(
        F.col(key_col),
        F.md5(canon).alias("fingerprint"),
    )


def winnow_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint (the MOSS rolling-hash scheme): hash every
    char ``k``-gram, slide a ``w``-hash window, keep the leftmost minimum
    of each window; the selected (position, hash) set is the document's
    fingerprint, digested to one md5. Near-identical documents share most
    selected grams, so winnow-print collisions localize *partial* overlap
    (plagiarism-style), which the whole-content collision ``fingerprint``
    cannot.

    Simplification, documented: gram hashes come from md5 (cross-engine
    deterministic, same trick as MinHash) rather than an incrementally
    updated Rabin-Karp polynomial — the selection scheme (the substance of
    winnowing) is identical; only the per-gram hashing constant factor
    differs. Leftmost-minimum tie-break keeps the pick reproducible in any
    engine. Everything is per-row Catalyst array work: one narrow map, no
    shuffle, linear in corpus size.
    """
    base = _winnow_selected(df, text_col, key_col, k, w)
    fp = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(F.col("sel")),
                lambda p: F.concat_ws(
                    ":",
                    p.cast("string"),
                    F.element_at(F.col("hs"), p.cast("int")).cast("string"),
                ),
            ),
            ",",
        )
    )
    return base.select(F.col(key_col), fp.alias("fingerprint"))


def _winnow_selected(
    df: DataFrame, text_col: str, key_col: str, k: int, w: int
) -> DataFrame:
    """(key, hs, sel): gram-hash array and the winnow-selected positions."""
    t = F.trim(F.col(text_col))

    # gram-hash array, bound once (lambda-captured subtrees re-evaluate
    # per element; the single-element-array map binds `s` as a value)
    def gram_hashes(s: Column) -> Column:
        n = F.greatest(F.length(s) - (k - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.conv(F.md5(s.substr(i, F.lit(k))).substr(1, 12), 16, 10)
            .cast("long"),
        )

    hs = F.element_at(F.transform(F.array(t), gram_hashes), 1)
    base = df.select(F.col(key_col), hs.alias("hs"))

    nw = F.greatest(F.size(F.col("hs")) - (w - 1), F.lit(1))

    # leftmost argmin per window; the window slice is bound once per j
    def pick(j: Column) -> Column:
        return F.element_at(
            F.transform(
                F.array(F.slice(F.col("hs"), j, w)),
                lambda sl: j - 1 + F.array_position(sl, F.array_min(sl)),
            ),
            1,
        )

    sel = F.array_distinct(F.transform(F.sequence(F.lit(1), nw), pick))
    return base.select(F.col(key_col), "hs", sel.alias("sel"))


def winnow_selected_hashes(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Exploded winnow posting list: one (key, h) row per distinct
    selected gram hash. Position-independent — a copied passage yields the
    same hash values wherever it lands — so this is the inverted-index
    feed for partial-overlap detection (``dedup.winnow_overlap_pairs``)."""
    base = _winnow_selected(df, text_col, key_col, k, w)
    sel_hashes = F.array_distinct(
        F.transform(F.col("sel"), lambda p: F.element_at(F.col("hs"), p.cast("int")))
    )
    return base.select(
        F.col(key_col).alias("key"), F.explode(sel_hashes).alias("h")
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    seg_words: int = 10,
    min_docs: int = 2,
    emit_text: bool = False,
) -> DataFrame:
    """CCNet-style paragraph-level dedup: drop every text segment that
    appears in ≥ ``min_docs`` distinct documents, keeping the rest of each
    document in order. Web corpora are full of boilerplate paragraphs
    (navigation, disclaimers, quoted headers) that whole-document dedup
    never touches; removing them at segment granularity is the standard
    pre-training cleanup (CCNet splits on newline — this corpus has no
    newlines, so the segment unit is a fixed ``seg_words``-word window,
    same mechanics).

    Plan shape (scale path): explode ONCE to a persisted
    (key, pos, seg, digest) relation — both the digest-count aggregate
    and the flag join read it, so the tokenize/segment pipeline runs a
    single time — one hash-aggregate counting distinct docs per digest,
    an equi-join of the ≥min_docs digest set back onto the exploded rows
    (no broadcast hint: on a clean corpus the duplicated-digest set is a
    small boilerplate list the planner broadcasts on its own, but it is
    unbounded in the worst case — a forced broadcast would OOM exactly
    when dedup matters most, so the shuffle fallback stays available),
    and one groupBy(key) that reassembles kept segments with array_sort.

    Returns (key, n_segments, n_dropped, dedup_hash) where dedup_hash is
    md5 of the space-rejoined surviving text — compact enough to
    hash-compare against the oracle without shipping full texts. With
    ``emit_text`` the surviving text itself is added as ``text`` (the
    REWRITE a composed curation pipeline feeds to its next stage; a doc
    whose every segment was boilerplate comes back as the empty string —
    callers filter those).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")

    def segs(tk: Column) -> Column:
        n_seg = F.ceil(F.size(tk) / F.lit(float(seg_words))).cast("int")
        return F.transform(
            F.sequence(F.lit(0), F.greatest(n_seg, F.lit(1)) - 1),
            lambda i: F.array_join(
                F.slice(tk, i * seg_words + 1, seg_words), " "
            ),
        )

    from .dedup import _scoped_persist

    seg_arr = F.element_at(F.transform(F.array(toks), segs), 1)
    exploded = _scoped_persist(
        df.select(
            F.col(key_col).alias("key"),
            F.posexplode(seg_arr).alias("pos", "seg"),
        ).withColumn("h", F.md5("seg"))
    )
    # the shuffled count carries (digest, key) only
    dup_digests = (
        exploded.groupBy("h")
        .agg(F.count_distinct("key").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select(F.col("h").alias("__dup_h"))
    )
    flagged = exploded.join(
        dup_digests, exploded["h"] == dup_digests["__dup_h"], "left"
    ).select(
        "key", "pos", "seg", F.col("__dup_h").isNotNull().alias("is_dup")
    )
    kept_text = F.array_join(
        F.transform(
            F.filter(
                F.array_sort(
                    F.collect_list(F.struct("pos", "seg", "is_dup"))
                ),
                lambda s: ~s["is_dup"],
            ),
            lambda s: s["seg"],
        ),
        " ",
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dropped"),
        F.md5(kept_text).alias("dedup_hash"),
    ]
    if emit_text:
        aggs.append(kept_text.alias("text"))
    return flagged.groupBy("key").agg(*aggs)


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 8,
    emit_text: bool = False,
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better"): remove every duplicated token span of
    length ≥ ``k`` from the corpus, keeping exactly ONE canonical
    occurrence corpus-wide. The paper builds a suffix array; the
    equivalent Spark-native formulation is dense k-gram coverage — a
    maximal duplicated substring of length L ≥ k is exactly the union of
    its L−k+1 duplicated k-grams, so marking every token covered by a
    duplicated k-gram occurrence (minus the canonical occurrence)
    removes the same spans without any suffix structure.

    Deterministic spec (both engines): a k-gram occurrence (key, pos) is
    duplicated iff its digest appears ≥ 2 times in the corpus (including
    within one document); the canonical occurrence of a digest is the
    (key, pos)-minimum; token t of a document is removed iff some
    NON-canonical duplicated occurrence [s, s+k) covers it. Documents
    shorter than ``k`` tokens emit no grams and pass through untouched.

    Plan shape (scale path): one narrow gram expansion (key, pos,
    digest), ONE hash-aggregate per digest computing count and the
    (key, pos)-min together, an equi-join of duplicated digests back
    onto the gram stream (no broadcast hint — the duplicated-digest set
    is unbounded on a dirty corpus, the same reasoning as
    ``paragraph_dedup``), a (key, token-pos) coverage distinct, and one
    per-doc reassembly join. Every shuffle carries keys/digests/ints —
    the text payload stays in the final doc-level join only. At 100 TB
    this is the standard inverted-gram dedup layout; the suffix array's
    advantage (finding the MAXIMAL span in one pass) is irrelevant here
    because coverage union reproduces it exactly.

    Returns (key, n_tokens, n_removed, dedup_hash) where dedup_hash is
    md5 of the space-rejoined surviving tokens; ``emit_text`` adds the
    surviving text for pipeline composition (a fully-duplicated doc
    comes back as the empty string — callers filter)."""
    from .dedup import _scoped_persist

    toks = _tokens(F.col(text_col))
    base = df.select(F.col(key_col).alias("key"), toks.alias("tk"))
    grams = base.select(
        "key",
        F.posexplode(
            # sequence(0, -1) would DESCEND, not be empty — short docs
            # (< k tokens) must emit no grams at all
            F.when(
                F.size("tk") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("tk") - k),
                    lambda i: F.md5(F.array_join(F.slice("tk", i + 1, k), " ")),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "h"),
    )
    grams = _scoped_persist(grams)
    # count + canonical occurrence in ONE aggregate over (digest) — the
    # shuffle carries (h, key, pos) only
    dup = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct("key", "pos")).alias("canon"),
        )
        .where(F.col("cnt") >= 2)
        .select("h", F.col("canon.key").alias("ck"), F.col("canon.pos").alias("cp"))
    )
    removed = (
        grams.join(dup, "h")
        .where(~((F.col("key") == F.col("ck")) & (F.col("pos") == F.col("cp"))))
        .select(
            "key",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("t"),
        )
        .groupBy("key")
        .agg(F.collect_set("t").alias("rm"))
    )
    # single-pass reassembly: kept indices = [0, L) \ rm via array_except
    # (hash-set of rm, O(L + |rm|)) — NOT a per-token array_contains scan,
    # which is O(L × |rm|) and melts on a heavily-duplicated 100k-token
    # book (~10^10 comparisons in one task). element_at on the REAL
    # column ``tk`` is O(1) per index (attribute reference, not a
    # recomputed subtree — the trap lm_perplexity_score documents).
    keep_idx = F.array_except(
        F.when(
            F.size("tk") > 0, F.sequence(F.lit(0), F.size("tk") - 1)
        ).otherwise(F.array().cast("array<int>")),
        F.col("rm"),
    )
    kept_text = F.array_join(
        F.transform(keep_idx, lambda i: F.element_at(F.col("tk"), i + 1)),
        " ",
    )
    out = base.join(removed, "key", "left").withColumn(
        "rm", F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    )
    cols = [
        F.col("key").alias(key_col),
        F.size("tk").cast("long").alias("n_tokens"),
        F.size("rm").cast("long").alias("n_removed"),
        F.md5(kept_text).alias("dedup_hash"),
    ]
    if emit_text:
        cols.append(kept_text.alias("text"))
    return out.select(*cols)


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    ngram_k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    ``ngram_k``-word shingle with an evaluation set (the GPT-3/PaLM-style
    n-gram overlap check — a training corpus that contains eval data
    invalidates the benchmark, so this runs before every pretraining
    export). Emits one row per *contaminated* training doc:
    (key, n_hit_grams, n_grams, hit_frac).

    Plan shape: the eval side reduces to a distinct shingle-md5 set —
    benchmarks are MBs, so it broadcasts; the training side explodes to
    (key, digest) narrow rows and inner-joins the broadcast set, then one
    groupBy(key) counts distinct hits. n_grams re-attaches via a second
    narrow aggregate on the same exploded relation, not a rescan of text.
    At 100 TB only the train-side explode shuffles, and only (key, digest).
    """
    eval_grams = (
        eval_df.select(
            F.explode(word_shingles(F.col(text_col), ngram_k)).alias("g")
        )
        .select(F.md5("g").alias("h"))
        .distinct()
    )
    train = df.select(
        F.col(key_col).alias("key"),
        word_shingles(F.col(text_col), ngram_k).alias("gs"),
    )
    exploded = train.select(
        "key", F.size("gs").alias("n_grams"), F.explode("gs").alias("g")
    ).select("key", "n_grams", F.md5("g").alias("h"))
    hits = (
        exploded.join(F.broadcast(eval_grams), on="h")
        .groupBy("key", "n_grams")
        .agg(F.count_distinct("h").alias("n_hit_grams"))
    )
    return hits.select(
        "key",
        "n_hit_grams",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.round(
            F.col("n_hit_grams") / F.col("n_grams").cast("double"), 6
        ).alias("hit_frac"),
    )


def fuzzy_decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.4,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """NEAR-DUPLICATE benchmark decontamination: flag training documents
    that are MinHash-LSH near-duplicates of any eval document. Exact
    n-gram overlap (``decontaminate``) misses paraphrases and
    reformatted eval items; frontier-lab decontamination reports pair
    the exact check with exactly this fuzzy one.

    Implemented as the delta-vs-corpus LSH (``operators.dedup.
    incremental_minhash_dedup``) with the EVAL set as the delta — the
    benchmark is tiny, so only its banding rows probe the training
    index; no train×train pair is ever generated. Eval keys are mapped
    to the negative range (−k−1) so the two key spaces cannot collide
    (a shared id would otherwise trigger the operator's re-ingest rule
    and silently drop the training doc from the index). Both key
    columns must be numeric AND nonnegative — a negative input id would
    break the disjointness the mapping provides, so it fails the job
    (``raise_error``) instead of silently mis-attributing hits.

    Returns one row per CONTAMINATED training doc:
    (``key_col``, n_eval_matches, max_jaccard)."""
    from .dedup import _require_numeric, incremental_minhash_dedup

    _require_numeric(df, (key_col,), "fuzzy_decontaminate")
    _require_numeric(eval_df, (key_col,), "fuzzy_decontaminate (eval)")

    def _nonneg(side: str) -> Column:
        return F.when(F.col(key_col) >= 0, F.col(key_col)).otherwise(
            F.raise_error(
                F.lit(
                    f"fuzzy_decontaminate: {side} {key_col} must be "
                    "nonnegative (the eval negative-key mapping requires "
                    "disjoint key spaces)"
                )
            )
        )

    train = df.select(_nonneg("train").alias(key_col), F.col(text_col))
    ev = eval_df.select(
        (-_nonneg("eval") - 1).alias(key_col), F.col(text_col)
    )
    pairs = incremental_minhash_dedup(
        train, ev, text_col, key_col,
        num_hashes, bands, shingle_k, threshold, max_bucket_size,
    )
    # eval ids are all negative, so in the (id_a < id_b) pair ordering a
    # train×eval pair always has id_a = eval, id_b = train; delta_delta
    # pairs are eval×eval and are not contamination evidence
    return (
        pairs.where(
            (F.col("pair_type") == "delta_corpus") & (F.col("id_b") >= 0)
        )
        .groupBy(F.col("id_b").alias(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.max("jaccard_sim").alias("max_jaccard"),
        )
    )


def pack_shards(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    shard_tokens: int = 1000,
    block_size: int = 100,
    token_count_col: str | None = None,
) -> DataFrame:
    """Token-budget shard packing: assign documents (in deterministic
    ``key_col`` order) to consecutive training shards of ~``shard_tokens``
    whitespace tokens each — the export step that turns a cleaned corpus
    into fixed-budget training files. A document goes to the shard its
    *exclusive* running total falls in, so shards overflow by at most one
    document and the assignment is a pure function of (key order, token
    counts).

    Scale path — the naive global ``Window.orderBy(key)`` running sum puts
    the whole corpus in ONE partition; this implements the classic
    two-phase distributed prefix sum instead: (1) per-block running sums
    with a window *partitioned* by ``block = key / block_size`` (parallel,
    narrow), (2) block totals — #corpus/block_size rows — get their own
    exclusive running sum on the tiny side and broadcast-join back. Size
    ``block_size`` so block count stays ~1e5 at the target corpus: the
    only serial window then runs over 1e5 rows, not 1e10. Everything is
    deterministic (no sampling, no partition-id dependence).

    ``token_count_col`` swaps the budget unit, same contract as
    ``mixture_sample``: shards are sized in that column's counts (real
    subword tokens from ``bpe_encode``) instead of whitespace tokens —
    a "~1000-token shard" packed on whitespace counts is severalfold
    over its contracted size in tokenizer tokens.

    Returns (key, n_tokens, shard_id).
    """
    from .dedup import _require_numeric

    _require_numeric(df, (key_col,), "pack_shards")
    n_tokens = (
        F.col(token_count_col).cast("long")
        if token_count_col is not None
        else F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    )
    d = df.select(
        F.col(key_col).cast("long").alias("key"), n_tokens.alias("n_tokens")
    ).withColumn("block", (F.col("key") / F.lit(block_size)).cast("long"))

    from pyspark.sql.window import Window

    w_in = (
        Window.partitionBy("block")
        .orderBy("key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("cum_in", F.sum("n_tokens").over(w_in))
    offsets = (
        d.groupBy("block")
        .agg(F.sum("n_tokens").alias("blk_total"))
        .withColumn(
            "blk_offset",
            F.coalesce(
                F.sum("blk_total").over(
                    Window.orderBy("block").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("block", "blk_offset")
    )
    cum = F.col("cum_in") + F.col("blk_offset")
    return (
        d.join(F.broadcast(offsets), on="block")
        .select(
            "key",
            "n_tokens",
            F.floor((cum - F.col("n_tokens")) / F.lit(float(shard_tokens)))
            .cast("long")
            .alias("shard_id"),
        )
    )
