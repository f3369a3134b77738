"""Deduplication operators — the training-data-pipeline extension.

The reference dedups only by key (MERGE on id / drop_duplicates); a 100 TB
corpus pipeline needs content-level dedup. Four strategies, cheapest first:

* exact        — hash-groupBy on a content digest; one shuffle.
* minhash LSH  — shingle → minhash signature → band → bucket join; candidate
                 pairs grow ~linearly with corpus size instead of O(n²).
* simhash      — 32-bit similarity fingerprint; identical fingerprints are
                 near-dup candidates; a single groupBy.
* n-gram Jaccard / embedding cosine — verification kernels, run only inside
  buckets/blocks so the pair count stays bounded.

Cross-engine determinism: every hash derives from md5 (identical in Spark,
DuckDB, Python) — minhash families are integer mixes of the md5 halves —
and all joins / aggregations are order-independent, so the DuckDB oracle
hash-matches bit-for-bit at any parallelism.
"""
from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import cosine, jaccard, word_shingles
from ..sources.tables import local_table

# Intermediates persisted by the multi-stage operators below (band tables,
# candidate lists, pruned shingle maps). They must outlive the operator
# call — the returned DataFrame is lazy — so each call registers its
# persists here and the *caller* releases them once the result is
# materialized (``release_intermediates()``; bench/verify/audit harnesses
# do). Left unreleased in a long-lived session they accumulate cached
# relations; re-running the identical plan before releasing is fine
# (CacheManager dedupes) and keeps warm-cache steady-state performance.
# Registration and release take a lock so concurrent plan builders (e.g.
# a threaded driver) can't lose or double-release an entry.
import threading

_INTERMEDIATES: list[DataFrame] = []
_INTERMEDIATES_LOCK = threading.Lock()


def release_intermediates() -> None:
    """Unpersist every intermediate cached by dedup calls so far. Call
    after materializing a result; any still-lazy dedup DataFrame simply
    recomputes without the cache (correct, slower)."""
    while True:
        with _INTERMEDIATES_LOCK:
            if not _INTERMEDIATES:
                return
            df = _INTERMEDIATES.pop()
        df.unpersist()


def _scoped_persist(df: DataFrame) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _INTERMEDIATES_LOCK:
        _INTERMEDIATES.append(out)
    return out


def lineage_cut(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = False
) -> DataFrame:
    """Truncate the logical plan at a data-contract boundary.

    ``checkpoint_dir=None`` (the local default) uses ``localCheckpoint``:
    same materialization cost as a persist, but the blocks live on the
    executors and DIE WITH THEM — fine single-JVM, a recompute/abort
    hazard under executor loss on a real cluster. Passing a durable
    ``checkpoint_dir`` (HDFS/object-store path in production) switches to
    reliable ``checkpoint()``, whose files survive executor loss — the
    swap the composed chains and the CC loop document. One checkpoint dir
    per SparkContext (Spark's own contract): concurrent chains must share
    it, which is safe — each checkpoint() writes its own rdd-N subdir."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=eager)


_NUMERIC_KEY_TYPES = ("bigint", "int", "smallint", "tinyint")


def _require_numeric(df: DataFrame, cols, op: str) -> None:
    """Fail fast on non-integer key columns: a silent ``cast('long')`` on
    a string UUID column yields all-null keys and deterministic-looking
    garbage instead of an error."""
    dtypes = dict(df.dtypes)
    for c in cols:
        if dtypes.get(c) not in _NUMERIC_KEY_TYPES:
            raise TypeError(
                f"{op} requires an integer key column; got "
                f"{c!r}: {dtypes.get(c)!r} — map string ids to longs "
                f"(e.g. xxhash64) before calling"
            )


def exact_dedup(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the lowest-key row per content digest.

    One hash-aggregate (partial+final) on a 128-bit digest — at 100 TB this
    shuffles only (digest, key), never the payload."""
    digest = F.md5(F.col(text_col))
    return (
        df.groupBy(digest.alias("content_hash"))
        .agg(
            F.min(key_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """doc → (key, sig[num_hashes]).

    sig_i = min over shingles of (a + i·b), where (a, b) are the two 48-bit
    halves of md5(shingle) — the Carter-Wegman trick: ONE md5 per shingle,
    then each of the ``num_hashes`` families is a cheap long multiply-add.
    a + i·b stays < 2^52 — no long overflow. Exactly reproducible
    cross-engine: any SQL engine with md5 + hex-parse computes the
    identical signature (the DuckDB oracle does).

    Plan shape: explode shingles → one md5 per shingle row → hash aggregate
    with ``num_hashes`` MIN expressions. Everything stays inside
    whole-stage codegen (a per-family HOF transform computes the same
    minima but runs interpreted). Each doc's shingle rows stay contiguous
    in their input partition, so map-side partial aggregation collapses
    them locally and the groupBy shuffle carries ~1 narrow row per doc.
    Docs whose shingle set is empty produce no signature row (they cannot
    be LSH candidates either way).
    """
    sh = word_shingles(F.col(text_col), shingle_k)
    exploded = df.select(F.col(key_col).alias("key"), sh.alias("shingles")).select(
        "key", F.explode("shingles").alias("s")
    )
    # h materialized in its own projection so the per-family aggregates
    # reference computed columns, not num_hashes copies of the md5 tree
    h = F.md5(F.col("s"))
    halves = exploded.select(
        "key",
        F.conv(h.substr(1, 12), 16, 10).cast("long").alias("a"),
        F.conv(h.substr(13, 12), 16, 10).cast("long").alias("b"),
    )
    mins = [
        F.min(F.col("a") + F.lit(i) * F.col("b")).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    return (
        halves.groupBy("key")
        .agg(*mins)
        .select(
            "key",
            F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig"),
        )
    )


# The pair operators below are one algorithm — post signatures into
# buckets, cap the buckets, join within a bucket, verify the exact
# distance — composed from these kernels, each written once. Posted and
# candidate relations name the document ``key``; pairs are (id_a, id_b).


def _bucket_n(df: DataFrame, cols, n: str = "__bn") -> DataFrame:
    """``df`` plus ``n``: the row count of its bucket (the rows sharing
    ``cols``), an unordered window — one shuffle, no sort, and the joins
    downstream reuse the same hash partitioning."""
    from pyspark.sql.window import Window

    return df.withColumn(n, F.count(F.lit(1)).over(Window.partitionBy(*cols)))


def _cap(df: DataFrame, cols, max_size: int | None, n: str = "__bn") -> DataFrame:
    """The mega-bucket cap: every row of a bucket holding more than
    ``max_size`` rows is dropped before the pair join (``None`` keeps
    all). ``n`` names the transient count column."""
    if max_size is None:
        return df
    return _bucket_n(df, cols, n).where(F.col(n) <= F.lit(max_size)).drop(n)


def _self_join(posted: DataFrame, on, by: str = "key") -> DataFrame:
    """Ordered self-join: rows ``a``, ``b`` of ``posted`` sharing ``on``
    (column names, or a condition over the ``a``/``b`` aliases) with
    ``a.by < b.by`` — each unordered pair once."""
    a, b = posted.alias("a"), posted.alias("b")
    return a.join(b, on).where(F.col(f"a.{by}") < F.col(f"b.{by}"))


def _candidates(
    posted: DataFrame,
    on,
    fp: str | None = None,
    delta: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) of ``posted`` rows sharing a
    bucket ``on``, carrying each side's ``fp`` column as fp_a/fp_b when
    given. With ``delta`` (the delta's rows of ``posted``) only pairs with
    a delta endpoint are generated — the delta side drives the join and
    the pair is oriented by least/greatest, so no corpus×corpus pair is
    ever formed."""
    if delta is None:
        pairs = _self_join(posted, on)
        cols = [F.col("a.key").alias("id_a"), F.col("b.key").alias("id_b")]
        if fp is not None:
            cols += [F.col(f"a.{fp}").alias("fp_a"), F.col(f"b.{fp}").alias("fp_b")]
    else:
        a, b = delta.alias("a"), posted.alias("b")
        pairs = a.join(b, on=on).where(F.col("a.key") != F.col("b.key"))
        cols = [
            F.least(F.col("a.key"), F.col("b.key")).alias("id_a"),
            F.greatest(F.col("a.key"), F.col("b.key")).alias("id_b"),
        ]
        if fp is not None:
            a_first = F.col("a.key") < F.col("b.key")
            cols += [
                F.when(a_first, F.col(f"a.{fp}")).otherwise(F.col(f"b.{fp}"))
                .alias("fp_a"),
                F.when(a_first, F.col(f"b.{fp}")).otherwise(F.col(f"a.{fp}"))
                .alias("fp_b"),
            ]
    return pairs.select(*cols).dropDuplicates(["id_a", "id_b"])


def _jaccard_verified(
    cand: DataFrame,
    df: DataFrame,
    text_col: str,
    key_col: str,
    shingle_k: int,
    threshold: float,
    sh: str = "sh",
) -> DataFrame:
    """Verify candidate pairs by exact shingle Jaccard: the pair list is
    persisted, shingles are computed only for the keys it names (a
    semi-join prune of ``df``, persisted as column ``sh``), attached to
    both sides, and pairs whose 6-dp rounded Jaccard is ≥ ``threshold``
    are kept. The shingle arrays are never materialized corpus-wide.
    Returns (id_a, id_b, jaccard_sim)."""
    cand = _scoped_persist(cand)
    pair_keys = (
        cand.select(F.col("id_a").alias("key"))
        .union(cand.select(F.col("id_b").alias("key")))
        .distinct()
    )
    shingle_map = _scoped_persist(
        df.join(
            pair_keys.withColumnRenamed("key", key_col), on=key_col,
            how="left_semi",
        ).select(
            F.col(key_col).alias("key"),
            word_shingles(F.col(text_col), shingle_k).alias(sh),
        )
    )
    scored = cand.join(
        shingle_map.select(F.col("key").alias("id_a"), F.col(sh).alias("sh_a")),
        on="id_a",
    ).join(
        shingle_map.select(F.col("key").alias("id_b"), F.col(sh).alias("sh_b")),
        on="id_b",
    )
    sim = F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6)
    return (
        scored.withColumn("jaccard_sim", sim)
        .where(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def _hamming_within(cand: DataFrame, bits: int, radius: int) -> DataFrame:
    """Candidate pairs whose bit-string fingerprints fp_a/fp_b differ in
    at most ``radius`` of their ``bits`` positions — one codegen'd
    substring comparison per bit. Returns (id_a, id_b, hamming_dist)."""
    dist = None
    for j in range(bits):
        term = F.when(
            F.col("fp_a").substr(j + 1, 1) != F.col("fp_b").substr(j + 1, 1),
            F.lit(1),
        ).otherwise(F.lit(0))
        dist = term if dist is None else dist + term
    return (
        cand.withColumn("hamming_dist", dist)
        .where(F.col("hamming_dist") <= radius)
        .select("id_a", "id_b", "hamming_dist")
    )


def _band_postings(
    fps: DataFrame,
    fp_col: str,
    key_col: str,
    bits: int,
    bands: int,
    delta: int | None = None,
) -> DataFrame:
    """(key, fp[, __d], band_no, band_bits): each fingerprint posted once
    per contiguous ``bits // bands``-bit band; ``delta`` tags every row
    with ``__d`` (1 = delta side, 0 = corpus)."""
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must divide into bands ({bands})")
    width = bits // bands
    tag = [] if delta is None else [F.lit(delta).alias("__d")]
    keep = ["key", "fp"] + ([] if delta is None else ["__d"])
    base = fps.select(F.col(key_col).alias("key"), F.col(fp_col).alias("fp"), *tag)
    return base.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_no"),
                        F.col("fp").substr(j * width + 1, width).alias("band_bits"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("band"),
    ).select(*keep, "band.band_no", "band.band_bits")


def _require_band_radius(radius: int, bands: int) -> None:
    """Banding is complete only for radius ≤ bands−1 (pigeonhole): refuse
    a radius whose pairs could be silently missed."""
    if radius > bands - 1:
        raise ValueError(
            f"radius {radius} exceeds the banding guarantee (bands - 1 = "
            f"{bands - 1}): pairs beyond it could be silently missed"
        )


def _delta_keys(delta: DataFrame, key_col: str) -> DataFrame:
    """The delta's distinct keys as ``key``, persisted."""
    return _scoped_persist(delta.select(F.col(key_col).alias("key")).distinct())


def _superseded(
    corpus: DataFrame, delta: DataFrame, delta_keys: DataFrame, key_col: str,
    cols,
) -> DataFrame:
    """corpus ∪ delta over ``cols`` where a key in BOTH is a re-ingest:
    the delta's version supersedes the corpus row (the replace-matched
    semantics of the K4 MERGE sinks)."""
    live = corpus.join(
        delta_keys.withColumnRenamed("key", key_col), on=key_col,
        how="left_anti",
    )
    return live.select(*cols).unionByName(delta.select(*cols))


def _block_capped(
    base: DataFrame,
    cols,
    max_block_size: int | None,
    max_pairs_budget: int | None,
    op: str,
) -> DataFrame:
    """``base`` (one row per doc, blocked by ``cols``) with the block cap
    applied, persisted: both self-join branches consume it, so an
    expensive upstream (a rewritten text, a mapInPandas encoder) runs
    once. Without a budget the cap is the window cap at
    ``max_block_size``. With ``max_pairs_budget`` the narrow relation is
    persisted BEFORE the block-size histogram is collected (else the
    upstream runs once for the sizes and again for the join),
    ``derive_block_cap`` turns the measured sizes into the largest cap
    within budget — effective cap ``min(max_block_size, derived)``, the
    refused pairs logged — and the cap applies as a broadcast semi-join
    against the tiny kept-block list."""
    if max_pairs_budget is None:
        return _scoped_persist(_cap(base, cols, max_block_size))
    base = _scoped_persist(base)
    block_sizes = _scoped_persist(
        base.groupBy(*cols).agg(F.count(F.lit(1)).alias("bn"))
    )
    hist = block_sizes.groupBy(F.col("bn")).agg(
        F.count(F.lit(1)).alias("nb")
    ).collect()
    derived, kept, refused = derive_block_cap(
        [(int(r["bn"]), int(r["nb"])) for r in hist], max_pairs_budget
    )
    if refused > 0:
        logging.getLogger(__name__).warning(
            "%s: pair budget %d -> block cap %d; keeping %d candidate "
            "pairs, REFUSING %d pairs in oversized blocks (route such "
            "corpora through minhash_lsh_dedup)",
            op, max_pairs_budget, derived, kept, refused,
        )
    cap = derived if max_block_size is None else min(max_block_size, derived)
    return base.join(
        F.broadcast(block_sizes.where(F.col("bn") <= cap).select(*cols)),
        on=list(cols),
        how="left_semi",
    )


def _pair_cosine() -> Column:
    """6-dp cosine of the ``a``/``b`` sides' pre-normed vectors."""
    from ..functions.similarity import cosine_prenorm

    return F.round(
        cosine_prenorm(F.col("a.v"), F.col("b.v"), F.col("a.nv"), F.col("b.nv")), 6
    )


def _verdicts(rows: DataFrame, dup_keys: DataFrame, key_col: str) -> DataFrame:
    """SemDeDup verdict rows (key_col, cluster_id, centroid_sim, kept):
    kept=0 iff the row's key is in ``dup_keys``."""
    return rows.join(
        dup_keys.withColumn("__dup", F.lit(1)), on="key", how="left"
    ).select(
        F.col("key").alias(key_col),
        "cluster_id",
        "centroid_sim",
        F.when(F.col("__dup").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("kept"),
    )


def _banded_signatures(
    df: DataFrame,
    text_col: str,
    key_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    max_bucket_size: int | None,
    salvage_depth: int = 0,
) -> DataFrame:
    """(key, band_key) LSH banding rows with the mega-bucket cap applied —
    the narrow signature index both the full self-join dedup and the
    incremental delta-vs-corpus dedup probe.

    ``salvage_depth`` > 0 turns the cap's all-or-nothing refusal into
    RECURSIVE RE-BANDING: a bucket over ``max_bucket_size`` is split by
    extending its band key with the next signature value (wrapping
    around the full signature), up to ``salvage_depth`` extensions —
    each doc lands in its bucket-chain's FIRST fitting prefix, so hot
    buckets degrade to deeper (more selective) probing instead of
    dropped pairs. Two docs still pair in a band iff they share the
    extended key at that first fitting depth; since extensions only
    subdivide buckets, the salvaged pair set is a SUPERSET of the
    capped one and a subset of the uncapped one (the property test
    pins both bounds). Only buckets still oversized after
    ``salvage_depth`` extensions are refused (near-identical signature
    cohorts), and that refusal is logged.

    Plan shape: the depth-0 pass is unchanged (one windowed count on the
    banding shuffle). Only members of OVERSIZED buckets — the hot-bucket
    subset, not the corpus — re-join their signature and explode into
    ``salvage_depth`` candidate extensions; one count per extended key
    plus a per-(doc, band) min-depth pick adds two narrow aggregations
    over that subset. Equivalent to counting every doc at every depth
    (bucket membership at depth d is confined to one depth-0 bucket, so
    the counts agree on every bucket a deep row can land in — the
    oracle uses that single-phase formulation)."""
    rows = num_hashes // bands
    sigs = minhash_signature(df, text_col, key_col, num_hashes, shingle_k)
    if salvage_depth > 0:
        sigs = _scoped_persist(sigs)
    band_arr = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col("sig")[b * rows + r] for r in range(rows)],
            )
            for b in range(bands)
        ]
    )
    if max_bucket_size is None or salvage_depth <= 0:
        return _cap(
            sigs.select("key", F.explode(band_arr).alias("band_key")),
            ["band_key"], max_bucket_size,
        )

    # banding rows carry the band index so extension positions resolve
    banded = _scoped_persist(
        _bucket_n(
            sigs.select("key", F.posexplode(band_arr).alias("b", "band_key")),
            ["band_key"],
        )
    )
    ok0 = banded.where(F.col("__bn") <= F.lit(max_bucket_size)).select(
        "key", "band_key"
    )
    over = banded.where(F.col("__bn") > F.lit(max_bucket_size)).select(
        "key", "b", "band_key"
    )
    # depth-d key for band b extends with sig[(b·rows + rows + j) mod H],
    # j < d — deterministic, engine-reproducible, mirrors the oracle
    ext_entries = []
    for b in range(bands):
        for d in range(1, salvage_depth + 1):
            ext = [
                F.col("sig")[(b * rows + rows + j) % num_hashes]
                for j in range(d)
            ]
            ext_entries.append(
                F.when(
                    F.col("b") == b,
                    F.array(
                        F.struct(
                            F.lit(d).alias("depth"),
                            F.concat_ws(
                                "|", F.col("band_key"), *ext
                            ).alias("ext_key"),
                        )
                    ),
                )
            )
    deep = _scoped_persist(
        over.join(sigs, on="key")
        .select(
            "key",
            "b",
            F.explode(
                F.flatten(
                    F.filter(
                        F.array(*ext_entries), lambda x: x.isNotNull()
                    )
                )
            ).alias("e"),
        )
        .select("key", "b", F.col("e.depth").alias("depth"),
                F.col("e.ext_key").alias("ext_key"))
    )
    dsz = deep.groupBy("ext_key").agg(F.count(F.lit(1)).alias("__n"))
    fit = deep.join(dsz, on="ext_key").where(
        F.col("__n") <= F.lit(max_bucket_size)
    )
    best = _scoped_persist(
        fit.groupBy("key", "b").agg(
            F.min(F.struct(F.col("depth"), F.col("ext_key"))).alias("bk")
        ).select("key", "b", F.col("bk.ext_key").alias("band_key"))
    )
    refused = over.join(best, ["key", "b"], "left_anti").count()
    if refused > 0:
        logging.getLogger(__name__).warning(
            "salvage banding: %d (doc, band) rows still oversized after "
            "%d extensions — refused (near-identical signature cohort)",
            refused, salvage_depth,
        )
    return ok0.unionByName(best.select("key", "band_key"))


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.4,
    max_bucket_size: int | None = 1000,
    salvage_depth: int = 0,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    ``salvage_depth`` > 0 replaces the cap's whole-bucket refusal with
    recursive re-banding (see ``_banded_signatures``): oversized buckets
    split by extending their band signature until they fit, so hot
    buckets degrade to deeper probing instead of dropped pairs.

    Plan shape (scales to 100 TB):
      1. signature pass — explode + codegen'd MIN aggregates; map-side
         partial agg means the groupBy shuffle carries ~1 narrow row/doc;
      2. explode to ``bands`` rows per doc, band key = concat of its rows —
         the band join shuffles **(band_key, key) only**, never the shingle
         arrays (at 100 TB carrying shingles through the explode+self-join
         would shuffle the whole corpus ×bands);
      3. mega-bucket cap: buckets larger than ``max_bucket_size`` are
         dropped before the self-join. Boilerplate-heavy corpora (shared
         headers/footers — or any large shared-shingle pool) collapse huge
         sets of dissimilar docs into one bucket whose B² candidate pairs
         are almost entirely verification failures; measured 27× blowup on
         an 8× corpus with ~50% shared filler tokens, linear after the
         cap. A true near-dup pair loses only the capped band and still
         collides in its other bands, so recall impact at J ≥ threshold is
         negligible. The cap is part of the operator's definition (the
         DuckDB oracle applies the same rule) — set ``None`` to disable;
      4. self-join within surviving buckets → candidate (id_a, id_b)
         pairs (equi-join on the band key, AQE splits remaining skew);
      5. verify only what survived LSH: shingles are recomputed for the
         keys that appear in candidate pairs (semi-join prune of the
         corpus), never materialized corpus-wide — the only persisted
         relations are the narrow band table, the pair list, and the
         pruned shingle map, all of which stay ≪ corpus at any scale.

    Returns distinct (id_a < id_b, jaccard_sim) verified pairs.
    """
    banded = _scoped_persist(
        _banded_signatures(
            df, text_col, key_col, num_hashes, bands, shingle_k,
            max_bucket_size, salvage_depth,
        )
    )
    return _jaccard_verified(
        _candidates(banded, "band_key"), df, text_col, key_col, shingle_k,
        threshold, sh="shingles",
    )


def incremental_minhash_dedup(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.4,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Delta-vs-corpus near-dup detection — the merge a recurring ingest
    actually runs: dedup the day's batch against a 100 TB corpus WITHOUT
    regenerating corpus×corpus pairs. The reference's incremental path is
    key-level only (MERGE on id, extractor_bq_helpers.py:159-169); content
    -level incremental dedup is what a training-data pipeline adds on top.

    Plan shape: both sides band through the same signature pipeline
    (``_banded_signatures``); candidates come from delta-bands ⋈
    all-bands — the corpus participates ONLY through its narrow
    (band_key, key) signature index and, for the few colliding keys, a
    semi-join-pruned shingle fetch. No corpus×corpus pair is ever
    generated, so a 10k-doc delta against 10^10 corpus docs joins ~40k
    banding rows against the index instead of exploding quadratically. In
    production the corpus's banded index is a stored table maintained by
    appending each accepted delta's banding rows — recomputing it here
    keeps the operator a pure function for the oracle; swap the
    ``corpus`` argument for ``spark.read.table(...)`` of the index and
    nothing else changes. The mega-bucket cap is computed over
    corpus ∪ delta, so results are EXACTLY the full-corpus
    ``minhash_lsh_dedup`` pair set restricted to pairs involving a delta
    doc (the property the oracle checks).

    A key present in BOTH inputs is treated as a re-ingest: the delta's
    version supersedes the corpus row (the same replace-matched
    semantics as the K4 MERGE sinks). Without this rule the union would
    merge both versions' shingles into one chimera signature and emit
    duplicate contradictory pairs.

    Returns (id_a < id_b, jaccard_sim, pair_type) where pair_type is
    ``delta_corpus`` or ``delta_delta``.
    """
    delta_keys = _delta_keys(delta, key_col)
    both = _superseded(corpus, delta, delta_keys, key_col, [key_col, text_col])
    banded_all = _scoped_persist(
        _banded_signatures(
            both, text_col, key_col, num_hashes, bands, shingle_k,
            max_bucket_size,
        )
    )
    cand = _candidates(
        banded_all, "band_key",
        delta=banded_all.join(delta_keys, on="key", how="left_semi"),
    )
    out = _jaccard_verified(cand, both, text_col, key_col, shingle_k, threshold)
    da = delta_keys.select(F.col("key").alias("id_a")).withColumn(
        "__da", F.lit(True)
    )
    db = delta_keys.select(F.col("key").alias("id_b")).withColumn(
        "__db", F.lit(True)
    )
    return (
        out.join(F.broadcast(da), on="id_a", how="left")
        .join(F.broadcast(db), on="id_b", how="left")
        .select(
            "id_a",
            "id_b",
            "jaccard_sim",
            F.when(
                F.coalesce(F.col("__da"), F.lit(False))
                & F.coalesce(F.col("__db"), F.lit(False)),
                F.lit("delta_delta"),
            )
            .otherwise(F.lit("delta_corpus"))
            .alias("pair_type"),
        )
    )


def simhash_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash: per-token 32-bit md5-derived hash; fingerprint bit j is the
    sign of Σ_tokens (±1 at bit j). Docs sharing a fingerprint are near-dup
    candidates.

    Plan shape: explode distinct tokens → one md5+conv per token row → hash
    aggregate with ``bits`` bit-test SUM expressions → assemble the bit
    string. Everything stays inside whole-stage codegen (a HOF fold over the
    token array computes the same thing but runs interpreted — measured 5×
    slower at sf0.1). The explode keeps each doc's tokens contiguous in its
    input partition, so map-side partial aggregation collapses them locally
    and the groupBy shuffle carries ~1 narrow row per doc — same volume as a
    narrow map at 100 TB.
    """
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    tok_rows = df.select(
        F.col(key_col).alias("key"), F.explode(toks).alias("tok")
    )
    # h materialized in its own projection so the 32 per-bit aggregates
    # below reference a computed column, not 32 copies of the md5+conv tree
    h = F.conv(F.md5(F.col("tok")).substr(1, bits // 4), 16, 10).cast("long")
    hashed = tok_rows.select("key", h.alias("h"))
    # bit j (big-endian) of the 32-bit prefix: sum the raw bit (branch-free)
    # and one token count; sign of Σ(±1) ⟺ 2·Σbit > n (ties → 0, identical
    # to the ±1 formulation and the oracle's)
    sums = [
        F.sum(F.shiftright(F.col("h"), bits - 1 - j).bitwiseAND(F.lit(1))).alias(
            f"b{j}"
        )
        for j in range(bits)
    ]
    n = F.count(F.lit(1)).alias("__n")
    fp = F.concat(
        *[
            F.when(F.col(f"b{j}") * 2 > F.col("__n"), F.lit("1")).otherwise(
                F.lit("0")
            )
            for j in range(bits)
        ]
    )
    return (
        hashed.groupBy("key").agg(*sums, n).select("key", fp.alias("simhash"))
    )


def simhash_dedup(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Group identical simhash fingerprints → candidate duplicate clusters."""
    fps = simhash_fingerprint(df, text_col, key_col)
    return (
        fps.groupBy("simhash")
        .agg(F.min("key").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


def simhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    bits: int = 32,
    radius: int = 1,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ``radius`` —
    upgrades ``simhash_dedup``'s identical-fingerprint-only clustering.

    Candidates by multi-probe banding: every doc posts its fingerprint
    plus each one-bit flip (1 + bits probes); any pair within Hamming
    distance 2 collides on some probe, and the exact distance is then
    verified ≤ ``radius`` (currently 1 — flip probes cover it exactly).
    Same mega-bucket cap as the LSH path: a probe bucket larger than
    ``max_bucket_size`` is dropped (degenerate fingerprints — e.g. empty
    docs — would otherwise contribute B² candidate pairs).

    Returns (id_a < id_b, hamming_dist ≤ radius) pairs.
    """
    from .annsearch import _flip_bits

    fps = simhash_fingerprint(df, text_col, key_col, bits)
    fp = F.col("simhash")
    probes = F.array(fp, *[_flip_bits(fp, (j,), bits) for j in range(bits)])
    posted = fps.select("key", fp, F.explode(probes).alias("probe"))
    posted = _scoped_persist(_cap(posted, ["probe"], max_bucket_size))
    return _hamming_within(_candidates(posted, "probe", "simhash"), bits, radius)


def hamming_banded_pairs(
    fps: DataFrame,
    fp_col: str = "fp",
    key_col: str = "key",
    bits: int = 64,
    bands: int = 8,
    radius: int = 7,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Hamming-radius near-dup pairs over bit-string fingerprints by
    band splitting (the general-radius sibling of ``simhash_near_dup``'s
    one-bit multi-probe, which only covers radius ≤ 2): split the
    ``bits``-bit string into ``bands`` contiguous bands; any pair within
    Hamming distance < bands collides on at least one identical band
    (pigeonhole), so for radius ≤ bands−1 the banded candidates are
    COMPLETE and the exact-distance verify makes the result equal the
    brute-force spec. Used by the pHash image dedup
    (operators/multimodal.py:image_phash_dedup).

    Plan shape: fingerprints post ``bands`` (band_no, band_bits) rows —
    the shuffle carries (band_no, band_bits, key, fp) only; buckets over
    ``max_bucket_size`` are dropped (degenerate fingerprints — uniform
    images, empty docs — would contribute B² pairs); candidates verify
    the exact distance with ``bits`` substring comparisons, all codegen.

    Returns (id_a < id_b, hamming_dist ≤ radius), deduplicated across
    bands."""
    band = ["band_no", "band_bits"]
    posted = _band_postings(fps, fp_col, key_col, bits, bands)
    posted = _scoped_persist(_cap(posted, band, max_bucket_size))
    return _hamming_within(_candidates(posted, band, "fp"), bits, radius)


def incremental_hamming_pairs(
    corpus_fps: DataFrame,
    delta_fps: DataFrame,
    fp_col: str = "fp",
    key_col: str = "key",
    bits: int = 64,
    bands: int = 8,
    radius: int = 7,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Delta-vs-corpus Hamming near-dup — the recurring-ingest merge for
    the PERCEPTUAL family (image dHash, audio energy-dHash, video frame
    hashes), the same contract shape as ``incremental_minhash_dedup``:
    pairs involving at least one delta fingerprint, WITHOUT regenerating
    corpus×corpus candidates. In production the banded posting relation
    ``(band_no, band_bits, key)`` is the STORED index (partitioned by
    band) maintained by appending each accepted delta's postings; here
    it is derived from the corpus fingerprints per call.

    Exactness (what the oracle checks): equals the full-corpus
    ``hamming_banded_pairs(corpus ∪ delta)`` restricted to pairs with a
    delta endpoint — exact because banding is per-fingerprint, so a
    pair's candidacy never depends on other pairs. The mega-bucket cap
    is evaluated against corpus ∪ delta, mirroring the batch operator
    (same caveat as the MinHash incremental path: a bucket crossing the
    cap only at larger corpus sizes can admit early pairs a later batch
    run refuses — content-derived fingerprint buckets stay far below it).

    Returns (id_a < id_b, hamming_dist ≤ radius)."""
    band = ["band_no", "band_bits"]
    posted = _band_postings(corpus_fps, fp_col, key_col, bits, bands, 0).unionByName(
        _band_postings(delta_fps, fp_col, key_col, bits, bands, 1)
    )
    posted = _scoped_persist(_cap(posted, band, max_bucket_size))
    cand = _candidates(posted, band, "fp", delta=posted.where(F.col("__d") == 1))
    return _hamming_within(cand, bits, radius)


def derive_block_cap(
    sizes: "list[int] | list[tuple[int, int]]", max_pairs_budget: int
) -> tuple[int, int, int]:
    """Turn a pair budget into a block-size cap — the codification of the
    64× blocked-Jaccard cliff (DESIGN.md: blocks sitting just under a
    fixed 10k cap ran Σ|block|² ≈ 512M pairs and spilled >79 GB; a fixed
    cap bounds the PER-BLOCK cost, never the TOTAL).

    ``sizes`` is the measured block-size distribution — either one bare
    int per block or ``(size, n_blocks)`` histogram pairs (so callers can
    pass the collected O(#distinct sizes) aggregate without expanding it
    to one entry per block). Returns ``(cap, kept_pairs, refused_pairs)``
    where ``cap`` is
    the LARGEST block size such that keeping every block of size ≤ cap
    stays within ``max_pairs_budget`` candidate pairs (Σ n·(n−1)/2 over
    kept blocks). Blocks above the cap are refused whole — the same
    all-or-nothing rule as the fixed ``max_block_size`` contract and its
    oracle QUALIFY mirror, so the derived cap slots into the identical
    plan. Greedy-from-smallest is optimal for this rule: pairs-per-block
    grows monotonically with size, so any cap admitting a larger size
    class admits all smaller ones too.

    Pure and deterministic (sorted fold over a size histogram) — callers
    collect the O(#blocks) size relation, never data rows."""
    if max_pairs_budget < 0:
        raise ValueError("max_pairs_budget must be >= 0")
    hist: dict[int, int] = {}
    for entry in sizes:
        n, c = entry if isinstance(entry, tuple) else (entry, 1)
        hist[n] = hist.get(n, 0) + c
    total = sum(n * (n - 1) // 2 * c for n, c in hist.items())
    cap = 0
    kept = 0
    for n in sorted(hist):
        add = n * (n - 1) // 2 * hist[n]
        if kept + add > max_pairs_budget:
            break
        kept += add
        cap = n
    return cap, kept, total - kept


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang", "source"),
    shingle_k: int = 2,
    threshold: float = 0.5,
    max_block_size: int | None = 10_000,
    max_pairs_budget: int | None = None,
) -> DataFrame:
    """Blocked n-gram Jaccard dedup: only pairs sharing a block key are
    scored (classic blocking — keeps the join from going quadratic; blocks
    are what LSH buckets generalize).

    ``max_block_size`` guards the degenerate block — on a web corpus the
    ("en", "web") block IS most of the corpus, and Σ|block|² is then n².
    Blocks past the cap are skipped (same contract and oracle rule as the
    LSH mega-bucket cap); route such corpora through ``minhash_lsh_dedup``
    whose buckets don't depend on coarse metadata.

    ``max_pairs_budget`` bounds the TOTAL candidate-pair count, which a
    fixed per-block cap cannot (the 64× smoke's cliff: 100 blocks each
    just under a 10k cap ran Σ|block|² ≈ 512M pairs and spilled >79 GB).
    One O(#blocks) size aggregate is collected, ``derive_block_cap``
    turns the measured distribution into the largest cap whose kept
    blocks stay within budget, and the refused-pair count is logged —
    the effective cap is ``min(max_block_size, derived)``.

    Plan shape: the in-block self-join carries only (block_cols, key) —
    narrow rows, like the LSH band join — then shingle arrays are computed
    once per candidate key behind a semi-join prune and re-attached to the
    pair list for scoring. A saturated block still emits |block|²/2 pairs,
    but each is two keys wide, not two shingle arrays wide."""
    base = _block_capped(
        df.select(F.col(key_col).alias("key"), *block_cols), block_cols,
        max_block_size, max_pairs_budget, "ngram_jaccard_pairs",
    )
    # each doc owns exactly one base row, so in-block pairs are unique
    cand = _self_join(base, list(block_cols)).select(
        F.col("a.key").alias("id_a"), F.col("b.key").alias("id_b")
    )
    return _jaccard_verified(cand, df, text_col, key_col, shingle_k, threshold)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    driver_threshold: int | None = 100_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a near-dup
    pair list (the step after any pair generator — MinHash-LSH, blocked
    Jaccard, SimHash — that turns pairwise evidence into "keep one doc per
    cluster", as in CCNet/RefinedWeb-style corpus dedup; the reference has
    no graph step, its dedup is key-level MERGE only,
    core/extract/helpers/extractor_bq_helpers.py:159-169).

    Algorithm: min-label propagation with pointer jumping. Every endpoint
    starts labelled with itself; each round a node adopts the minimum of
    its own label, its neighbors' labels, and *its label's label* (the
    path-doubling shortcut — labels are node ids, so the label relation is
    itself a forest to hop through). Neighbor-min alone needs
    diameter-many rounds (a 1000-link chain = 1000 shuffles); the shortcut
    halves remaining distances every round, so convergence is
    O(log diameter) — the same bound as alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce") with simpler
    invariants. Each round shuffles only (node, label) pairs — never text
    or shingles — one hash join per rule + one groupBy on node ids.
    Convergence is detected by the label-sum (labels only ever decrease,
    so the sum is strictly monotone until fixpoint): a 1-row action per
    round, not a data collect.

    Returns one row per endpoint: (node, cluster_id, cluster_size) where
    cluster_id is the component-minimum node id. Isolated docs (no pair)
    are not emitted — callers keep them as singleton clusters implicitly.
    Raises if the fixpoint is not reached within ``max_iterations``
    (pointer jumping closes diameters up to ~2^max_iterations, so the
    default 20 covers any realistic near-dup graph; a partial labelling
    silently kept would make downstream keep-one-per-cluster retain
    duplicates).

    Small-graph fast path: every upstream pair generator caps its output
    (LSH bucket caps, block caps, pair budgets), and on a DEDUPED corpus
    the surviving near-dup edge list is metadata-scale even at 100 TB —
    so when the checkpointed edge count is ≤ ``driver_threshold`` the
    components are solved with a driver-side union-find (exact, same
    component-minimum labels, O(E·α)) instead of paying ~6 scheduled
    jobs of fixed overhead per pointer-jumping round. The distributed
    loop remains the path for adversarial graphs; pass
    ``driver_threshold=None`` to force it. The gating count is an action
    on the ALREADY-materialized checkpoint — no extra upstream work. The
    labels go back to the JVM as an Arrow-built ``LocalRelation``
    (``sources.tables.local_table``), so the hand-off runs no Python task
    and starts no pickled-RDD worker pool.
    """
    _require_numeric(pairs, (id_a, id_b), "connected_components")
    # Materialize the (possibly very expensive) upstream pair plan ONCE
    # before the symmetrize union references it twice: without this both
    # union branches recompute the generator concurrently — a cache
    # registered on the union materializes too late to help — and the 8×
    # scale smoke measured pair generation paid double (~54 s of LSH work
    # twice) before a single CC round ran.
    e = (
        pairs.select(
            F.col(id_a).cast("long").alias("src"),
            F.col(id_b).cast("long").alias("dst"),
        )
        # a pair with a NULL endpoint is not duplicate evidence; dropped
        # identically on both paths (the driver union-find would crash on
        # None and the distributed loop would emit a garbage NULL node)
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )
    e = lineage_cut(e, checkpoint_dir, eager=True)
    # gate-and-fetch in ONE job: take(threshold+1) both decides the path
    # and delivers the edges the fast path needs
    head = (
        e.take(driver_threshold + 1) if driver_threshold is not None else None
    )
    if head is not None and len(head) <= driver_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in head:
            a, b = row["src"], row["dst"]
            for n in (a, b):
                if n not in parent:
                    parent[n] = n
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so labels stay component minima
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        members: dict[int, list[int]] = {}
        for n in parent:
            members.setdefault(find(n), []).append(n)
        rows = [
            (n, root, len(ms))
            for root, ms in members.items()
            for n in ms
        ]
        return local_table(
            pairs.sparkSession,
            rows,
            "node long, cluster_id long, cluster_size long",
        )
    edges = _scoped_persist(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    # The loop MUST truncate lineage each round: ``labels`` appears three
    # times in each round's plan (union, neighbor join, pointer hop), so
    # without truncation the logical plan grows ~4× per iteration and
    # Catalyst analysis/stringification goes exponential long before the
    # data does (measured: a 5-round loop spent 14 min in
    # Expression.toString). The eager lineage cut materializes the round
    # and restarts the plan from the checkpointed RDD — pass
    # ``checkpoint_dir`` on a fault-tolerant cluster run for the durable
    # ``checkpoint()`` variant (lineage_cut).
    labels = lineage_cut(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node")),
        checkpoint_dir,
        eager=True,
    )
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    converged = False
    # +1: convergence DETECTION consumes one no-change round, so a graph
    # needing exactly max_iterations productive rounds must not raise
    for _ in range(max_iterations + 1):
        prop = edges.join(
            labels.select(F.col("node").alias("dst"), "lbl"), on="dst"
        ).select(F.col("src").alias("node"), "lbl")
        stepped = labels.union(prop).groupBy("node").agg(F.min("lbl").alias("lbl"))
        # pointer jump: follow my (new) label to ITS label and take the min
        hop = stepped.select(F.col("node").alias("lbl"), F.col("lbl").alias("lbl2"))
        new_labels = lineage_cut(
            stepped.join(hop, on="lbl", how="left").select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("lbl2"), F.col("lbl"))
                ).alias("lbl"),
            ),
            checkpoint_dir,
            eager=True,
        )
        new_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach fixpoint within "
            f"{max_iterations} iterations — labels were still changing; "
            f"raise max_iterations (pointer jumping needs ~log2(diameter) "
            f"rounds)"
        )
    from pyspark.sql.window import Window

    return labels.select(
        "node",
        F.col("lbl").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("lbl"))
        .cast("long")
        .alias("cluster_size"),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    *,
    eval_pct: int = 10,
    id_a: str = "id_a",
    id_b: str = "id_b",
    clusters: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster-aware train/eval split: near-duplicate CLUSTERS, not
    documents, are the unit of assignment, so no eval document has a
    near-duplicate sitting in train — the benchmark-leakage guard a
    per-document hash split cannot give (a doc and its near-copy hash
    independently and straddle the boundary; the GPT-3/C4 eval-set
    contamination analyses exist precisely because of this failure).
    The reference has no split step at all (its corpus is operational,
    `/root/reference/core/extract/Extractor.py`); this is part of the
    training-data-pipeline extension surface.

    Mechanism: ``connected_components`` over any near-dup ``pairs``
    relation (MinHash-LSH, blocked Jaccard, SimHash, semantic — the
    evidence source is the caller's choice), singletons keep their own
    key as cluster id, then ONE md5-bucket draw per *cluster id* decides
    the whole cluster: eval iff the first 8 hex digits of
    md5(cluster_id) — as a long in [0, 16^8) — fall below
    ``eval_pct * 16^8 // 100``. Deterministic across runs, engines and
    partitionings (same contract as every sampler in this repo), and
    exactly mirrorable in the DuckDB twin.

    Expected eval mass is ``eval_pct`` percent of CLUSTERS (not of
    documents): big clusters move together, so the doc-level fraction
    has cluster-sized granularity — that is the point, not a bug.

    At 100 TB: the split adds one broadcast-sized md5 comparison per
    row on top of the CC labelling the dedup stage already computed —
    pass ``clusters`` (a (node, cluster_id, …) relation from an earlier
    ``connected_components`` call) to reuse it and the split is one
    left join + one projection, no new shuffle of content.

    Returns (``key_col``, cluster_id, split) with split ∈
    {'train', 'eval'}.
    """
    if not 0 <= eval_pct <= 100:
        raise ValueError(f"eval_pct must be in [0, 100], got {eval_pct}")
    _require_numeric(docs, (key_col,), "leakage_safe_split")
    cc = (
        clusters
        if clusters is not None
        else connected_components(
            pairs.select(id_a, id_b), id_a, id_b, checkpoint_dir=checkpoint_dir
        )
    )
    assigned = (
        docs.select(F.col(key_col).cast("long").alias("__k"))
        .join(cc.select("node", "cluster_id"), F.col("__k") == F.col("node"), "left")
        .select(
            F.col("__k"),
            F.coalesce("cluster_id", F.col("__k")).alias("cluster_id"),
        )
    )
    eval_max = (eval_pct * 16**8) // 100
    bucket = F.conv(
        F.md5(F.col("cluster_id").cast("string")).substr(1, 8), 16, 10
    ).cast("long")
    return assigned.select(
        F.col("__k").alias(key_col),
        "cluster_id",
        F.when(bucket < F.lit(eval_max), F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 16,
    w: int = 8,
    min_shared: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Partial-overlap pairs via winnowing posting lists (the MOSS
    pipeline): docs sharing ≥ ``min_shared`` selected gram hashes are
    candidate contained-duplicates — quotes, shared boilerplate, copied
    passages — which whole-document similarity (Jaccard/MinHash/SimHash)
    under-scores when the overlap is a small fraction of either doc.

    Plan shape (scales like the LSH path): selected hashes are ~2/(w+1) of
    grams per doc, the inverted-index self-join shuffles narrow (h, key)
    rows only, and hash buckets above ``max_bucket_size`` (ubiquitous
    boilerplate grams) are dropped before the join — same capped-bucket
    contract as MinHash-LSH, applied by the oracle too.

    Gram size matters: ``k`` must span several words (default 16 chars) or
    shared-vocabulary corpora collide on every common word — measured on
    this corpus, k=5 marks 99.8%% of all pairs as overlapping, k=16 marks
    0.1%%. The detection guarantee is shared passages ≥ k + w − 1 chars.

    Returns (id_a < id_b, n_shared) pairs.
    """
    from .textops import winnow_selected_hashes

    posted = winnow_selected_hashes(df, text_col, key_col, k, w)
    posted = _scoped_persist(_cap(posted, ["h"], max_bucket_size))
    return (
        _self_join(posted, "h")
        .groupBy(
            F.col("a.key").alias("id_a"), F.col("b.key").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def embedding_near_dup(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.9,
    max_block_size: int | None = 100_000,
    max_pairs_budget: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup within blocks (IVF-style: compare only
    within the same coarse cluster — at 100 TB the block is the posting
    list, so the pair count is Σ|block|² not n²). ``max_block_size``
    skips degenerate posting lists (same contract as the LSH bucket cap);
    re-cluster with more centroids instead of scoring a quadratic list.
    ``max_pairs_budget`` bounds the TOTAL pair count by deriving the cap
    from the measured block-size distribution (see ``derive_block_cap``;
    effective cap = min of both), logging what the budget refused."""
    from ..functions.similarity import norm2

    base = df.select(
        F.col(key_col).alias("key"),
        F.col(block_col).alias("block"),
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("v"),
    ).withColumn("nv", norm2(F.col("v")))  # once per vector, not per pair
    base = _block_capped(
        base, ["block"], max_block_size, max_pairs_budget, "embedding_near_dup"
    )
    return (
        _self_join(base, F.col("a.block") == F.col("b.block"))
        .withColumn("cosine_sim", _pair_cosine())
        .where(F.col("cosine_sim") >= threshold)
        .select(
            F.col("a.key").alias("id_a"),
            F.col("b.key").alias("id_b"),
            "cosine_sim",
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    label_col: str = "label",
    threshold: float = 0.3,
    max_cluster_size: int | None = 100_000,
    route_bits: int | None = None,
    route_hamming: int = 1,
    route_rescue: bool = False,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space, then mark as duplicates
    the within-cluster points whose cosine similarity to another cluster
    member exceeds ``threshold``, keeping per duplicate group the member
    LEAST similar to its cluster centroid (the paper's keep-low policy —
    the most "peripheral" copy carries the most marginal information).

    Exact semantics (deterministic, both engines): members of each
    cluster are ranked by (centroid_sim ASC, key ASC); a point is DROPPED
    iff some earlier-ranked member of its cluster has cosine ≥ threshold
    with it — the upper-triangular-matrix formulation of the paper's
    dedup step, expressible as one EXISTS join (no iteration). The
    first-ranked member of every duplicate group therefore survives, and
    that is exactly the lowest-centroid-sim member. Centroids are the
    deterministic lowest-key pick per label (``ivf_centroids`` — same
    oracle-exactness contract as the IVF index; production swaps in the
    k-means refinement, identical plan shape).

    Returns one verdict row per input vector:
    (key, cluster_id, centroid_sim, kept∈{0,1}).

    100 TB shape: the pair join is blocked by ``cluster_id`` — pair count
    is Σ|cluster|², not n², and cluster count scales with the corpus
    (grow cluster COUNT, not size — the measured ANN-smoke sizing rule).
    The vectors shuffle twice (assignment argmax, cluster ranking);
    everything after the pair probe carries keys only. A cluster larger
    than ``max_cluster_size`` is refused from pair generation (logged),
    so its members are all KEPT — the same degrade-to-no-evidence
    contract as the LSH bucket cap; re-cluster with more centroids
    instead of scoring a quadratic list.

    The flat exact assignment is n × k — when cluster count scales with
    the corpus, BOTH factors grow and assignment becomes the quadratic
    term (measured: the 64× smoke). ``route_bits=b`` switches to the
    LSH-routed assignment (see ``semantic_assign``): candidates per
    vector drop to the centroids sharing its b-bit sign bucket or a
    Hamming-1 neighbor, restoring linear scaling at the cost of
    routing approximation (unrouted vectors degrade to kept=1).

    Reference tie-in: the content-level lift of the reference's
    key-equality drop_duplicates / MERGE dedup
    (core/extract/helpers/extractor_bq_helpers.py:159-169), at the
    semantic granularity a training-data pipeline needs."""
    _require_numeric(corpus, [key_col], "semantic_dedup")
    assigned = semantic_assign(
        corpus, None, vec_col, key_col, label_col,
        route_bits=route_bits, route_hamming=route_hamming,
        route_rescue=route_rescue, dim=dim,
    )
    return _semantic_verdicts(assigned, key_col, threshold, max_cluster_size)


def semantic_assign(
    corpus: DataFrame,
    cents: DataFrame | None = None,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    label_col: str = "label",
    route_bits: int | None = None,
    route_hamming: int = 1,
    route_rescue: bool = False,
    dim: int = 64,
) -> DataFrame:
    """The SemDeDup assignment index: (key, cluster_id, centroid_sim, v,
    nv) — one row per corpus vector. This is the relation a production
    deployment STORES (partitioned by cluster_id) and maintains by
    appending each accepted delta's rows; every semantic-dedup variant
    here consumes it.

    ``cents`` defaults to the deterministic lowest-key-per-label pick
    (``ivf_centroids``); pass a frozen centroid table for index
    maintenance. Two assignment strategies:

    * flat (``route_bits=None``) — exact argmax over ALL centroids via a
      broadcast crossJoin. Cost n × k: exact, and fine while k is small,
      but when cluster COUNT scales with the corpus (the sizing rule)
      both factors grow — the measured 64× smoke shows the quadratic
      wall. This is the oracle-exact spec.
    * LSH-routed (``route_bits=b``) — both vectors and centroids get a
      b-bit random-hyperplane signature (``rh_planes``/``rh_signature``,
      md5-derived so any engine regenerates them); a vector considers
      only centroids whose signature is in its own bucket or any
      Hamming-1 neighbor (the centroid side is expanded b+1× and
      broadcast, so the vector scan stays one pass). Cost
      n × k·(b+1)/2^b — linear in n for b ≈ log2(k). Approximate: a
      vector whose probe finds NO centroid gets cluster_id NULL and
      surfaces kept=1 with no duplicate evidence (the family's
      degrade-to-no-evidence contract); a vector can also route to a
      non-nearest centroid across a hyperplane — agreement vs flat is
      measured by test and smoke, and the verdict semantics WITHIN the
      routed clustering stay exact and oracle-checked.

    Adaptive probing knobs (DESIGN.md round-9 characterization):
    ``route_hamming=2`` widens the centroid probe list to every two-bit
    flip (1+b+b(b-1)/2 of the 2^b buckets); ``route_rescue=True``
    flat-assigns exactly the residual misses (probe-until-hit), driving
    the unrouted rate to zero at cost n_missed × k. b-selection rule:
    b ≈ log2(k) with Hamming-1 on clustered (real-embedding-like)
    corpora; on near-isotropic corpora raise route_hamming to 2 or
    enable the rescue — the measured agreement/miss tables live in
    DESIGN.md."""
    from ..functions.similarity import cosine_prenorm, norm2

    from .annsearch import ivf_centroids

    if cents is None:
        cents = ivf_centroids(corpus, vec_col, key_col, label_col)
    if "cent_n" not in cents.columns:
        cents = cents.withColumn("cent_n", norm2(F.col("centroid")))
    v = corpus.select(
        F.col(key_col).alias("key"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("nv", norm2(F.col("v")))  # once per vector, not per pair
    if route_bits is None:
        cand = v.crossJoin(F.broadcast(cents))
    else:
        from .annsearch import _flip_bits, rh_planes, rh_signature

        planes = rh_planes(route_bits, dim)
        sig = rh_signature(F.col("centroid"), planes)
        # centroid probe list: own signature + every one-bit flip, plus
        # every two-bit flip under route_hamming=2 (adaptive widening for
        # corpora where Hamming-1 misses too much — expansion grows from
        # b+1 to 1+b+b(b-1)/2, still << 2^b for b ~ log2 k)
        variants = [sig] + [
            _flip_bits(sig, (j,), route_bits) for j in range(route_bits)
        ]
        if route_hamming >= 2:
            variants += [
                _flip_bits(sig, (j, l), route_bits)
                for j in range(route_bits)
                for l in range(j + 1, route_bits)
            ]
        cent_probe = cents.select(
            "cluster_id",
            "centroid",
            "cent_n",
            F.explode(F.array(*variants)).alias("__sig"),
        )
        cand = v.withColumn(
            "__sig", rh_signature(F.col("v"), planes)
        ).join(F.broadcast(cent_probe), on="__sig")
    def _argmax(c: DataFrame) -> DataFrame:
        scored = c.withColumn(
            "csim",
            F.round(
                cosine_prenorm(
                    F.col("v"), F.col("centroid"), F.col("nv"), F.col("cent_n")
                ),
                6,
            ),
        )
        # nearest-centroid argmax: a map-side partial MAX over a
        # (csim, cluster_id) struct (ties → highest cluster_id, the same
        # total order as assign_nearest)
        best = scored.groupBy("key").agg(
            F.max(F.struct(F.col("csim"), F.col("cluster_id"))).alias("best"),
            F.first("v").alias("v"),  # identical across the group
            F.first("nv").alias("nv"),
        )
        return best.select(
            "key",
            F.col("best.cluster_id").alias("cluster_id"),
            F.col("best.csim").alias("centroid_sim"),
            "v",
            "nv",
        )

    assigned = _argmax(cand)
    if route_bits is not None:
        # vectors whose probe matched no centroid: NULL assignment
        assigned = v.select("key", "v", "nv").join(
            assigned.select("key", "cluster_id", "centroid_sim"),
            on="key",
            how="left",
        ).select("key", "cluster_id", "centroid_sim", "v", "nv")
        if route_rescue:
            # probe-until-hit: the residual NULL-assignment vectors get
            # the EXACT flat argmax — cost n_missed × k, so the rescue is
            # cheap exactly when routing is working (low miss rate), and
            # the unrouted rate drops to zero by construction
            hits = assigned.where(F.col("cluster_id").isNotNull())
            missed = assigned.where(F.col("cluster_id").isNull()).select(
                "key", "v", "nv"
            )
            assigned = hits.unionByName(
                _argmax(missed.crossJoin(F.broadcast(cents)))
            )
    return assigned


def _semantic_verdicts(
    assigned: DataFrame,
    key_col: str,
    threshold: float,
    max_cluster_size: int | None,
) -> DataFrame:
    """Verdicts from an assignment index: rank within cluster by
    (centroid_sim ASC, key ASC), drop iff an earlier-ranked member is
    ≥ threshold-similar. NULL-cluster rows (unrouted vectors) skip the
    pair probe and surface kept=1."""
    from pyspark.sql.window import Window

    ranked = assigned.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.asc("centroid_sim"), F.asc("key")
            )
        ),
    )
    # both pair-join sides AND the verdict join consume the ranked
    # relation: one cached copy of the vector payload (house rule)
    ranked = _scoped_persist(ranked)
    # action-free refusal (same contract as embedding_near_dup's plain
    # cap): oversized clusters never enter the pair join, so their
    # members surface as kept=1 with no duplicate evidence
    probe = _cap(
        ranked.where(F.col("cluster_id").isNotNull()), ["cluster_id"],
        max_cluster_size, "__cn",
    )
    dup_keys = (
        _self_join(probe, F.col("a.cluster_id") == F.col("b.cluster_id"), "rnk")
        .where(_pair_cosine() >= threshold)
        .select(F.col("b.key").alias("key"))
        .distinct()
    )
    return _verdicts(ranked, dup_keys, key_col)


def incremental_semantic_dedup(
    corpus: DataFrame | None,
    delta: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    label_col: str = "label",
    threshold: float = 0.3,
    max_cluster_size: int | None = 100_000,
    corpus_index: DataFrame | None = None,
    centroids: DataFrame | None = None,
    route_bits: int | None = None,
    dim: int = 64,
    emit_corpus_flips: bool = False,
) -> DataFrame:
    """Delta-vs-corpus SemDeDup — the merge a recurring embedding ingest
    actually runs: verdicts for the DELTA's vectors against corpus ∪
    delta WITHOUT regenerating corpus×corpus pairs (the semantic
    counterpart of ``incremental_minhash_dedup``, same contract shape).

    Exactness property (what the oracle checks): the result equals
    ``semantic_dedup(corpus ∪ delta)`` restricted to delta keys. That
    restriction is exact because a key's verdict depends only on
    EARLIER-ordered members of its own cluster — (centroid_sim, key)
    lexicographic order — never on the verdicts of others, so no global
    rank is needed: the pair probe tests the order predicate directly.

    Consequence worth knowing at ingest time: a delta vector that is
    near-dup of a corpus vector but MORE peripheral (lower centroid_sim)
    is ADMITTED — under the keep-low policy it is the copy the full
    dedup would keep, and the corpus twin the one it would drop. The
    incremental pass reports delta verdicts only, so that corpus-side
    drop is deferred: run the full ``semantic_dedup`` sweep periodically
    (or feed these pairs into ``dedup_apply``) to canonicalize the
    standing corpus.

    Plan shape: assignment of both sides against the shared centroid
    set, then delta-assigned ⋈ all-assigned on cluster_id with the
    order predicate — only clusters that RECEIVED a delta vector
    generate pairs, each contributing |delta ∩ cluster| × |cluster|
    comparisons. At 100 TB the corpus side participates through its
    stored assignment index (cluster_id, key, centroid_sim, vector) —
    maintained by appending each accepted delta's assignment rows —
    recomputing it here keeps the operator a pure function for the
    oracle; swap the ``corpus`` argument for the index table and
    nothing else changes. A key in BOTH inputs is a re-ingest: the
    delta's version supersedes the corpus row (K4 MERGE semantics),
    matching what ``semantic_dedup`` would see after the MERGE.

    Returns delta-key verdict rows (key, cluster_id, centroid_sim,
    kept). With ``emit_corpus_flips`` the result gains a ``side`` column
    and ALSO carries a kept=0 row for every CORPUS member newly dropped
    by this delta — a standing vector flips only when a delta vector
    that precedes it in the (centroid_sim, key) order is ≥
    threshold-similar, the REVERSE direction of the same cluster-blocked
    pair probe (no extra join). kept is monotone 1→0 over ingests, so a
    verdict table maintained by idempotent keyed MERGEs of these rows
    converges to exactly ``semantic_dedup`` over the accumulated corpus
    whatever the batch split — the invariant the streaming ingestion
    harness is built on (streaming/windows.py:stream_semantic_dedup).
    ``corpus`` may be None when ``corpus_index`` is given."""
    from .annsearch import ivf_centroids

    if corpus is None and corpus_index is None:
        raise ValueError(
            "incremental_semantic_dedup: corpus may be None only with "
            "corpus_index"
        )
    if corpus is not None:
        _require_numeric(corpus, [key_col], "incremental_semantic_dedup")
    _require_numeric(delta, [key_col], "incremental_semantic_dedup")
    delta_keys = _delta_keys(delta, key_col)
    if corpus_index is not None:
        # production path: the corpus participates through its STORED
        # assignment index — only the delta is assigned, against the
        # frozen centroid table the index was built with (centroids are
        # a versioned artifact here; a changed centroid set means a
        # rebuilt index, not a silent mix)
        if centroids is None:
            raise ValueError(
                "incremental_semantic_dedup: corpus_index requires the "
                "frozen centroids it was built with"
            )
        corpus_assigned = corpus_index.join(
            delta_keys, on="key", how="left_anti"
        )
        delta_assigned = semantic_assign(
            delta, centroids, vec_col, key_col, label_col,
            route_bits=route_bits, dim=dim,
        )
        assigned = corpus_assigned.unionByName(delta_assigned)
    else:
        both = _superseded(
            corpus, delta, delta_keys, key_col, [key_col, vec_col, label_col]
        )
        cents = centroids
        if cents is None:
            cents = ivf_centroids(both, vec_col, key_col, label_col)
        assigned = semantic_assign(
            both, cents, vec_col, key_col, label_col,
            route_bits=route_bits, dim=dim,
        )
    assigned = _scoped_persist(assigned)
    delta_assigned = _scoped_persist(
        assigned.join(delta_keys, on="key", how="left_semi")
    )
    # partition pruning, the plan analog of the stored index being
    # partitioned by cluster_id: only clusters that RECEIVED a delta
    # vector participate in the cap window and the pair probe — a
    # fixed-size ingest touches a bounded cluster set however large the
    # standing corpus grows (the 64× smoke's fixed-delta claim)
    hot = delta_assigned.where(F.col("cluster_id").isNotNull()).select(
        "cluster_id"
    ).distinct()
    probe = _cap(
        assigned.join(hot, on="cluster_id", how="left_semi"), ["cluster_id"],
        max_cluster_size, "__cn",
    )
    delta_side = probe.join(delta_keys, on="key", how="left_semi")
    a, b = probe.alias("a"), delta_side.alias("b")
    pairs = (
        a.join(b, F.col("a.cluster_id") == F.col("b.cluster_id"))
        .where(F.col("a.key") != F.col("b.key"))
        .select(
            F.col("a.key").alias("ka"),
            F.col("a.cluster_id").alias("ca"),
            F.col("a.centroid_sim").alias("sa"),
            F.col("b.key").alias("kb"),
            F.col("b.centroid_sim").alias("sb"),
            _pair_cosine().alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )
    # the order predicate IS the rank: a precedes b iff
    # (a.centroid_sim, a.key) < (b.centroid_sim, b.key)
    a_first = (F.col("sa") < F.col("sb")) | (
        (F.col("sa") == F.col("sb")) & (F.col("ka") < F.col("kb"))
    )
    if emit_corpus_flips:
        # both directions consume the scored pair list: one copy
        pairs = _scoped_persist(pairs)
    dup_keys = pairs.where(a_first).select(F.col("kb").alias("key")).distinct()
    verdicts = _verdicts(
        delta_assigned.select("key", "cluster_id", "centroid_sim"), dup_keys,
        key_col,
    )
    if not emit_corpus_flips:
        return verdicts
    # reverse direction: a delta vector PRECEDING a standing corpus
    # member is drop evidence for that member — emit its kept=0 rewrite
    flips = (
        pairs.where(~a_first)
        .join(
            delta_keys.withColumnRenamed("key", "ka"),
            on="ka",
            how="left_anti",  # corpus members only
        )
        .select(
            F.col("ka").alias(key_col),
            F.col("ca").alias("cluster_id"),
            F.col("sa").alias("centroid_sim"),
        )
        .distinct()
        .withColumn("kept", F.lit(0).cast("int"))
    )
    return verdicts.withColumn("side", F.lit("delta")).unionByName(
        flips.withColumn("side", F.lit("corpus"))
    )


def dedup_apply(
    corpus: DataFrame,
    clusters: DataFrame,
    key_col: str = "doc_id",
    quality_col: str | None = None,
    merged_col: str = "n_merged",
) -> DataFrame:
    """The canonicalization APPLY step: turn duplicate-cluster evidence
    into a rewritten corpus — keep ONE survivor per cluster plus every
    singleton, the content-identity lift of the reference's
    keep-one-row-per-key MERGE
    (core/extract/helpers/extractor_bq_helpers.py:159-169).

    ``clusters`` is ``connected_components`` output
    (node, cluster_id, cluster_size). Survivor choice: the cluster's
    minimum key by default (= ``cluster_id`` itself, since CC labels are
    component minima — no extra aggregation needed), or the
    ``quality_col`` argmax (ties → lowest key) when a quality score says
    which copy to keep. Survivors carry ``merged_col`` = cluster size;
    singletons get 1.

    At 100 TB: one co-hashed LEFT join of corpus×clusters on the key
    (clusters is keys-only — no payload), plus, in quality mode, one
    narrow (cluster_id, score, key) aggregation. The corpus payload is
    never shuffled twice; feed the result straight into
    ``partitioned_upsert`` to rewrite only the buckets that lost rows."""
    cl = clusters.select(
        F.col("node").alias(key_col), "cluster_id", "cluster_size"
    )
    joined = corpus.join(cl, key_col, "left")
    if quality_col is None:
        winners = joined.where(
            F.col("cluster_id").isNull()
            | (F.col(key_col) == F.col("cluster_id"))
        )
    else:
        best = (
            joined.where(F.col("cluster_id").isNotNull())
            .groupBy("cluster_id")
            .agg(
                F.max_by(
                    F.col(key_col),
                    F.struct(F.col(quality_col), -F.col(key_col)),
                ).alias("__winner")
            )
        )
        winners = joined.join(best, "cluster_id", "left").where(
            F.col("cluster_id").isNull()
            | (F.col(key_col) == F.col("__winner"))
        )
    out = winners.withColumn(
        merged_col, F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long")
    )
    drop = ["cluster_id", "cluster_size"]
    if quality_col is not None:
        drop.append("__winner")
    return out.drop(*drop)


def exact_star_edges(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate edge list in STAR form: one (group-min key, key)
    edge per non-minimal copy of a content digest — linear in duplicates,
    never the quadratic all-pairs within a group. Feeds
    ``connected_components`` (each digest group becomes one component
    rooted at its min key) and thence ``dedup_apply``."""
    from pyspark.sql.window import Window

    digest = F.md5(F.col(text_col))
    rooted = df.select(
        F.col(key_col),
        F.min(key_col).over(Window.partitionBy(digest)).alias("__root"),
    )
    return rooted.where(F.col(key_col) != F.col("__root")).select(
        F.col("__root").alias("id_a"), F.col(key_col).alias("id_b")
    )
