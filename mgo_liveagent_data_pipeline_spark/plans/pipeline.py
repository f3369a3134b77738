"""Training-data-pipeline query registry — dedup, text analysis, and
similarity search over the ``documents`` and ``embeddings`` tables.

These extend the reference's key-level dedup (MERGE on id) to the
content-level operators a 100 TB corpus pipeline needs. Every operator was
built md5/lexicographic-deterministic (operators/dedup.py:14-17) precisely
so a DuckDB oracle can reproduce it bit-for-bit at any parallelism — this
module finishes that job by writing the oracles.

DuckDB deltas: 1-based list indexing (Spark arrays are 0-based in
``col[i]``), ``list_*`` functions vs Spark higher-order functions,
``string_split_regex`` vs ``F.split``, explicit BIGINT casts on integer
sums.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.annsearch import cosine_topk, ivf_topk
from ..scratch import scratch_dir
from ..operators.dedup import (
    _scoped_persist,
    connected_components,
    dedup_apply,
    embedding_near_dup,
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    semantic_dedup,
    simhash_dedup,
)
from ..operators.textops import (
    bpe_encode,
    decontaminate,
    fingerprint,
    language_id,
    mixture_sample,
    pack_shards,
    paragraph_dedup,
    quality_filter,
    quality_score,
    token_counts,
)
from ..sources.tables import load_table, local_table

# MinHash/LSH parameters shared by query and oracle
NUM_HASHES = 16
BANDS = 4
SHINGLE_K = 3
LSH_THRESHOLD = 0.4
LSH_MAX_BUCKET = 1000


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via md5 digest groupBy (one shuffle of
    (digest, key) only)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, Jaccard-verified."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_dedup(
        docs,
        "text",
        "doc_id",
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=LSH_THRESHOLD,
        max_bucket_size=LSH_MAX_BUCKET,
    )


SALVAGE_MAX_BUCKET = 2
SALVAGE_DEPTH = 4


def q_dedup_minhash_salvage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs with OVERSIZED-BUCKET SALVAGE
    (operators/dedup.py:_banded_signatures salvage_depth): the mega-
    bucket cap set adversarially low (2) so the benchmark corpus's
    size-3/4 buckets actually exercise the recursive re-banding — hot
    buckets split by signature extension instead of refusing their
    pairs whole. Driver-visible via the ``mh_salvage`` mode of
    ``dedup_simhash_suite``."""
    from ..operators.dedup import minhash_lsh_dedup

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_dedup(
        docs,
        "text",
        "doc_id",
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=LSH_THRESHOLD,
        max_bucket_size=SALVAGE_MAX_BUCKET,
        salvage_depth=SALVAGE_DEPTH,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint clusters (identical 32-bit fingerprint)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_dedup(docs, "text", "doc_id")


def q_dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 1 (multi-probe)."""
    from ..operators.dedup import simhash_near_dup

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup(docs, "text", "doc_id", bits=32, radius=1)


def q_dedup_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-detection suite: blocked n-gram Jaccard near-dup pairs
    (whole-doc similarity; block = lang × source, unigram shingles /
    threshold 0.5 — calibrated so the pair set is non-trivial) unioned
    with winnowing partial-overlap pairs (shared-passage detection the
    whole-doc scores miss), the connected-component cluster
    assignment over the Jaccard pairs (pairwise evidence → one
    keep-per-cluster decision; ``cluster`` rows carry
    doc → component-min id with the component size as score), the
    incremental delta-vs-corpus LSH pairs (``incr_delta_corpus`` /
    ``incr_delta_delta`` modes), and the leakage-safe train/eval
    split over the same clusters (``split`` rows: doc → cluster id,
    score = 1.0 iff assigned to eval)."""
    from ..operators.dedup import connected_components, winnow_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=("lang", "source"),
        shingle_k=1, threshold=0.5,
    )
    ngram = pairs.select(
        F.lit("ngram").alias("mode"), "id_a", "id_b",
        F.col("jaccard_sim").alias("score"),
    )
    winnow = winnow_overlap_pairs(docs, "text", "doc_id").select(
        F.lit("winnow").alias("mode"), "id_a", "id_b",
        F.col("n_shared").cast("double").alias("score"),
    )
    cc = connected_components(pairs.select("id_a", "id_b"))
    cluster = cc.select(
        F.lit("cluster").alias("mode"),
        F.col("node").alias("id_a"),
        F.col("cluster_id").alias("id_b"),
        F.col("cluster_size").cast("double").alias("score"),
    )
    incr = q_dedup_incremental(spark, sf_dir).select(
        F.concat(F.lit("incr_"), F.col("pair_type")).alias("mode"),
        "id_a",
        "id_b",
        F.col("jaccard_sim").alias("score"),
    )
    # split: leakage-safe train/eval assignment over the SAME component
    # labelling (clusters= reuses cc — no second CC run in this row);
    # score carries the eval indicator, id_b the cluster id
    from ..operators.dedup import leakage_safe_split

    split = leakage_safe_split(
        docs, pairs, "doc_id", eval_pct=25, clusters=cc
    ).select(
        F.lit("split").alias("mode"),
        F.col("doc_id").alias("id_a"),
        F.col("cluster_id").alias("id_b"),
        (F.col("split") == F.lit("eval")).cast("double").alias("score"),
    )
    return (
        ngram.unionByName(winnow)
        .unionByName(cluster)
        .unionByName(incr)
        .unionByName(split)
    )


# incremental dedup split: every 5th doc plays the incoming delta batch
DELTA_SPLIT_MOD = 5


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-vs-corpus LSH dedup (operators/dedup.py:
    incremental_minhash_dedup): the doc_id %% 5 == 0 split plays the
    incoming batch, the rest the standing corpus; result = the full
    MinHash-LSH pair set restricted to pairs involving a delta doc.
    Driver-visible via the ``incr_*`` modes of ``dedup_ngram_pairs``."""
    from ..operators.dedup import incremental_minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    delta = docs.where(F.col("doc_id") % DELTA_SPLIT_MOD == 0)
    corpus = docs.where(F.col("doc_id") % DELTA_SPLIT_MOD != 0)
    return incremental_minhash_dedup(
        corpus,
        delta,
        "text",
        "doc_id",
        num_hashes=NUM_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=LSH_THRESHOLD,
        max_bucket_size=LSH_MAX_BUCKET,
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component duplicate clusters over the blocked-Jaccard
    pair list (operators/dedup.py:connected_components) — min-label
    propagation until fixpoint; one (node, label) shuffle per round.
    Driver-visible via the ``cluster`` mode of ``dedup_ngram_pairs``."""
    from ..operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=("lang", "source"),
        shingle_k=1, threshold=0.5,
    )
    return connected_components(pairs.select("id_a", "id_b"))


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split (operators/dedup.py:
    leakage_safe_split): blocked-Jaccard near-dup clusters are assigned
    to eval/train as UNITS via one md5 draw per cluster id, so no eval
    document has a near-duplicate in train. eval_pct=25 on this fixture
    puts multi-document clusters on both sides of the boundary — the
    oracle checks the per-cluster draw, the pytest pins that a naive
    per-document draw WOULD straddle a cluster here. Driver-visible via
    the ``split`` mode of ``dedup_ngram_pairs``."""
    from ..operators.dedup import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=("lang", "source"),
        shingle_k=1, threshold=0.5,
    )
    return leakage_safe_split(docs, pairs, "doc_id", eval_pct=25)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, both vector provenances under one
    tagged row:

    * ``emb`` — the prebuilt ``embeddings`` table within IVF label
      blocks. Threshold 0.3 ≈ this corpus's p99 within-block similarity
      (max 0.47 — a 0.9 threshold returns zero rows and checks nothing).
    * ``encoded`` — corpus-only near-dup with NO embeddings table:
      documents → hash-projection vectors (annsearch.encode_documents)
      → random-hyperplane sign-bit blocks (annsearch.rh_signature, the
      LSH that groups similar vectors) → within-block cosine ≥ 0.8.
      The full curation composition: near-identical docs land in the
      same sign block and score ~1.0. At 100 TB the plane count sets
      block granularity — pick bits ≈ log2(corpus / target_block_size)
      (6 bits = 64 blocks fits this fixture; a 10^10-doc corpus wants
      ~20+ bits) and the 100k block cap backstops degenerate blocks,
      the same sizing rule as every other pair generator here."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = embedding_near_dup(
        emb, "embedding", "vec_id", "label", threshold=0.3
    ).select(F.lit("emb").alias("mode"), "id_a", "id_b", "cosine_sim")

    from ..operators.annsearch import encode_documents, rh_planes, rh_signature
    from ..session import ship_package

    ship_package(spark)
    docs = load_table(spark, sf_dir, "documents")
    enc = encode_documents(docs, dim=32)
    blocked = enc.withColumn(
        "label", rh_signature(F.col("embedding"), rh_planes(6, 32))
    )
    n = embedding_near_dup(
        blocked, "embedding", "doc_id", "label", threshold=0.8
    ).select(F.lit("encoded").alias("mode"), "id_a", "id_b", "cosine_sim")
    return e.unionByName(n)


def q_text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span dedup (operators/textops.py:exact_substring_dedup):
    remove duplicated ≥8-token spans corpus-wide, keep one canonical
    occurrence. k=8 hits ~2.1k duplicated gram occurrences across ~47
    docs at sf0.01 — enough removals that the per-doc survivor hashes
    check real span surgery, not a no-op. Driver-visible via the
    ``substr`` mode of ``dedup_exact_suite``."""
    from ..operators.textops import exact_substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_dedup(docs, "text", "doc_id", k=8)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup verdicts (operators/dedup.py:semantic_dedup):
    cluster-blocked cosine dedup over the embeddings table at threshold
    0.3 (this corpus's meaningful within-cluster band — see
    q_dedup_embedding's threshold note), keep-lowest-centroid-sim
    survivor policy. One verdict row per vector. Driver-visible via the
    ``semdedup`` mode of ``dedup_simhash_suite``."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.3)


def q_dedup_semantic_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-routed SemDeDup (operators/dedup.py:semantic_assign, routed
    mode): assignment candidates come from 4-bit random-hyperplane sign
    buckets (own + Hamming-1), so the per-vector candidate set is
    k·(b+1)/2^b instead of k — the linear-scaling assignment the 64×
    smoke showed the flat argmax needs. Unrouted vectors surface
    kept=1 with NULL cluster. Driver-visible via the
    ``semdedup_routed`` mode of ``dedup_simhash_suite``."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.3, route_bits=4, dim=64)


def q_dedup_semantic_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup (operators/dedup.py:incremental_semantic_dedup):
    the vec_id % 5 == 0 split is the day's delta, the rest the standing
    corpus — verdicts for the delta only. The oracle is the operator's
    exactness contract verbatim: semantic_dedup over the union,
    restricted to delta keys. Driver-visible via the ``semdedup_inc``
    mode of ``dedup_simhash_suite``."""
    from ..operators.dedup import incremental_semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return incremental_semantic_dedup(
        emb.where(F.col("vec_id") % 5 != 0),
        emb.where(F.col("vec_id") % 5 == 0),
        threshold=0.3,
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting both ways: OpenRefine-style collision print
    (whole-content, order-insensitive) and the MOSS winnowing rolling-hash
    print (partial-overlap localization), tag-unioned."""
    from ..operators.textops import winnow_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    coll = fingerprint(docs, "text", "doc_id").select(
        F.lit("collision").alias("mode"), "doc_id", "fingerprint"
    )
    winnow = winnow_fingerprint(docs, "text", "doc_id").select(
        F.lit("winnow").alias("mode"), "doc_id", "fingerprint"
    )
    return coll.unionByName(winnow)


def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language heuristic."""
    docs = load_table(spark, sf_dir, "documents")
    return language_id(docs, "text", "doc_id")


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap quality features + composite score."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_score(docs, "text", "doc_id")


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace / BPE-ish / len-4 token counting."""
    docs = load_table(spark, sf_dir, "documents")
    return token_counts(docs, "text", "doc_id")


def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics text op: per-doc top-5 terms by (rational) tf-idf.
    Member-level query (outside the 50-row driver prefix; verified by
    ``tools/verify_oracles.py --all``)."""
    from ..operators.textops import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "text", "doc_id", k=5)


def q_text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample of the documents corpus
    (en kept at 30%, other strata in full), summarized per stratum.
    Member-level query (verify via ``tools/verify_oracles.py --all``)."""
    from ..operators.textops import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_hash_sample(docs, "lang", {"en": 0.3}, "doc_id")
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: per-doc duplicate-token and
    duplicate-3-gram fractions (operators/textops.py:repetition_metrics).
    Driver-visible inside the ``text_corpus_stats`` suite row."""
    from ..operators.textops import repetition_metrics

    docs = load_table(spark, sf_dir, "documents")
    return repetition_metrics(docs, "text", "doc_id", shingle_k=3)


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/textops.py:pii_scrub) over deterministic
    key-derived contact text — the synthetic customer table carries no
    contact columns, so the fixture synthesizes an email, THREE phone
    shapes (TPC-H-style ``12-345-678-9012``, international
    ``+63917…``, parenthesized ``(02) 1234-5678`` — the free-form
    variety the reference's ticket contact fields carry,
    core/Ticket.py:57-63), a bare ISO date (which must NOT be redacted),
    and an IPv4 per customer from c_custkey. Both engines build the
    identical string, so the oracle checks the scrub itself.
    Driver-visible via the ``pii`` mode of ``text_corpus_stats``."""
    from ..operators.textops import pii_scrub

    cust = load_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    phone = F.format_string(
        "%02d-%03d-%03d-%04d",
        ck % 90 + 10, ck % 900 + 100, (ck * 7) % 900 + 100,
        (ck * 13) % 9000 + 1000,
    )
    intl = F.format_string("+63%09d", (ck * 17) % 1000000000)
    paren = F.format_string(
        "(02) %04d-%04d", (ck * 19) % 10000, (ck * 23) % 10000
    )
    email = F.concat(F.lit("user"), ck.cast("string"), F.lit("@example.com"))
    ip = F.format_string(
        "%d.%d.%d.%d", ck % 256, (ck * 3) % 256, (ck * 7) % 256, (ck * 11) % 256
    )
    date = F.format_string("2024-%02d-%02d", ck % 12 + 1, ck % 28 + 1)
    txt = cust.select(
        ck,
        F.concat_ws(
            " ", F.col("c_name"), F.lit("email"), email, F.lit("call"),
            phone, F.lit("or"), intl, F.lit("or"), paren,
            F.lit("on"), date, F.lit("from"), ip,
        ).alias("contact_text"),
    )
    return pii_scrub(txt, "contact_text", "c_custkey")


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for the first five vectors as queries."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=5, query_key="query_id")


def q_ann_project_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 in JL-PROJECTED space (operators/
    annsearch.py:random_project): corpus and queries are projected
    64 → 16 dims with the md5-derived ±1 planes, then scored exactly.
    The member is value-exact (the projection is deterministic and the
    twin mirrors it literally); the RECALL vs full-dim search is the
    measured quantity (tests/test_ann_recall.py). Driver-visible via
    the ``project`` variant of ``ann_suite``."""
    from ..operators.annsearch import random_project

    emb = load_table(spark, sf_dir, "embeddings")
    proj = random_project(emb, "embedding", out_dim=16, dim=64)
    queries = proj.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(proj, queries, k=5, query_key="query_id")


def q_ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 over SQ8 int8 codes (operators/
    annsearch.py:sq_encode/sq_topk): per-vector symmetric scalar
    quantization, integer-dot scoring (scales cancel in cosine) — 8×
    fewer vector bytes with a near-lossless metric. Value-exact member
    (floor-half-up codes are bit-identical in the twin); the recall
    against the float baseline is pinned in tests/test_ann_recall.py.
    Driver-visible via the ``sq`` variant of ``ann_suite``."""
    from ..operators.annsearch import sq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sq_topk(emb, queries, k=5, query_key="query_id")


def q_ann_ivfsq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 composed index (operators/annsearch.py:ivfsq_topk):
    2-probe IVF routing over full-dim centroids, SQ8 integer-dot
    scoring within the probed posting lists — the near-lossless middle
    rung between plain IVF (float lists) and IVF-PQ (coarse codes).
    Value-exact member; candidate sets are identical to 2-probe IVF by
    construction (routing never quantizes), pinned in
    tests/test_ann_recall.py. Driver-visible via the ``ivfsq`` variant
    of ``ann_suite``."""
    from ..operators.annsearch import ivfsq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfsq_topk(emb, queries, k=5, query_key="query_id", n_probes=2)


def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN (operators/annsearch.py:ivf_topk
    ``predicate=…, filter_mode='pre'``): the embeddings corpus carries
    its document metadata (lang, via the 1:1 doc_id join) and the
    search is scoped to ``lang = 'de'`` (~14% of the corpus) with
    2-probe IVF routing. The predicate prunes posting-list members
    BEFORE ranking, so every query returns the full k among eligible
    candidates — the under-fill failure of post-filtering the
    unfiltered top-k is pinned by a pytest on the same fixture —
    while routing still uses the SHARED full-corpus centroid artifact
    (a stored index serves many differently-scoped queries). The
    reference's geocode composes exactly this shape — similarity join
    × serviceability predicate (utils/geocode_utils.py:16-27).
    Driver-visible via the ``filtered`` variant of ``ann_suite``."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    corpus = emb.join(docs, emb["vec_id"] == docs["doc_id"]).drop("doc_id")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        corpus,
        queries,
        k=5,
        query_key="query_id",
        n_probes=2,
        predicate=F.col("lang") == "de",
        filter_mode="pre",
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate top-5 (deterministic centroids)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, query_key="query_id")


def q_ann_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with 2-probe routing: neighbors just across a cluster boundary
    are recovered by scanning the two nearest posting lists."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, query_key="query_id", n_probes=2)


def q_ann_rh_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketed top-5 (md5-derived planes)."""
    from ..operators.annsearch import rh_lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return rh_lsh_topk(emb, queries, k=5, num_planes=8, dim=64)


def q_ann_rh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe RH-LSH top-5: own bucket + all Hamming-1 buckets."""
    from ..operators.annsearch import rh_multiprobe_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return rh_multiprobe_topk(emb, queries, k=5, num_planes=8, dim=64)


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 (operators/annsearch.py:pq_topk):
    8 subspaces × 16 codes seeded from the 16 lowest-key vectors; query
    time touches only the encoded codes + a broadcast distance table,
    never the corpus floats. Driver-visible via the ``pq`` mode of
    ``ann_suite``."""
    from ..operators.annsearch import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(emb, queries, k=5, num_subspaces=8, num_codes=16, dim=64)


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed top-5 (operators/annsearch.py:ivfpq_topk): 2-probe
    IVF routing prunes WHICH rows are scored, PQ codes (8 subspaces × 16
    codes) prune WHAT is read per row — the index shape a production ANN
    deployment actually ships, and the one the 64× smoke showed holding
    recall 0.72 where flat PQ collapses (DESIGN.md ANN section). Scores
    are identical to ``pq_topk`` restricted to the probed posting lists
    — routing changes candidate sets, never distances — which is exactly
    how the DuckDB twin is written. Driver-visible via the ``ivfpq``
    mode of ``ann_suite``."""
    from ..operators.annsearch import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(
        emb, queries, k=5, num_subspaces=8, num_codes=16, dim=64, n_probes=2
    )


def q_ann_encode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → vectors → ANN end-to-end: documents are ENCODED into
    embeddings by the deterministic hash-projection encoder
    (operators/annsearch.py:encode_documents — one Arrow-batched
    mapInPandas, the injectable-callable seam a real model plugs into),
    then brute-force cosine top-5 runs on the generated vectors. The
    reference has no embedding path at all; this is the curation
    pipeline's missing first stage. Driver-visible via the ``encode``
    mode of ``ann_suite``."""
    from ..operators.annsearch import encode_documents
    from ..session import ship_package

    ship_package(spark)
    docs = load_table(spark, sf_dir, "documents")
    enc = encode_documents(docs, dim=32)
    queries = enc.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    return cosine_topk(enc, queries, k=5, key_col="doc_id", query_key="query_id")


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup canonicalization pipeline, pairs → clusters → rewritten
    corpus: exact-duplicate star edges (operators/dedup.py:
    exact_star_edges) → connected components → keep-one-per-cluster
    (operators/dedup.py:dedup_apply) → corpus REWRITE through the
    bucketed partitioned MERGE (sinks/writers.py:partitioned_upsert) and
    read back from the manifest. The returned relation is computed from
    the round-tripped table, so the oracle certifies the write too:
    survivors are exactly one min-key doc per content digest, with
    ``n_merged`` = copies collapsed. Driver-visible via the ``apply``
    mode of ``dedup_exact_suite``."""
    from ..operators.dedup import connected_components, dedup_apply, exact_star_edges
    from ..sinks.writers import partitioned_upsert, read_partitioned

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    clusters = connected_components(exact_star_edges(docs))
    kept = dedup_apply(docs, clusters, "doc_id")
    base_dir = scratch_dir("mgo_dedup_apply_")
    partitioned_upsert(spark, kept, base_dir, "corpus", "doc_id", num_buckets=16)
    back = read_partitioned(spark, base_dir, "corpus")
    return back.select(
        F.md5(F.col("text")).alias("content_hash"),
        F.col("doc_id").alias("keep_id"),
        F.col("n_merged"),
    )


def q_text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style segment-level dedup
    (operators/textops.py:paragraph_dedup): 10-word segments appearing in
    ≥2 distinct docs are dropped, surviving text is md5'd per doc.
    Driver-visible via the ``para`` mode of ``dedup_exact_suite``."""
    from ..operators.textops import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents")
    return paragraph_dedup(docs, "text", "doc_id", seg_words=10, min_docs=2)


# decontamination eval split: every 23rd doc plays the held-out benchmark
DECONTAM_MODULUS = 23
DECONTAM_NGRAM_K = 5


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/textops.py:decontaminate):
    training docs sharing any 5-word shingle with the deterministic
    doc_id %% 23 == 0 eval split, with hit counts and fractions.
    Driver-visible via the ``decontam`` mode of ``text_corpus_stats``."""
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % DECONTAM_MODULUS == 0)
    train = docs.where(F.col("doc_id") % DECONTAM_MODULUS != 0)
    return decontaminate(train, ev, "text", "doc_id", ngram_k=DECONTAM_NGRAM_K)


def q_text_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP benchmark decontamination
    (operators/textops.py:fuzzy_decontaminate): training docs that are
    MinHash-LSH near-duplicates (J ≥ 0.4) of any doc_id %% 23 == 0 eval
    doc — the paraphrase-robust companion of the exact n-gram check.
    Driver-visible via the ``fdecontam`` mode of ``text_corpus_stats``."""
    from ..operators.textops import fuzzy_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % DECONTAM_MODULUS == 0)
    train = docs.where(F.col("doc_id") % DECONTAM_MODULUS != 0)
    return fuzzy_decontaminate(
        train, ev, "text", "doc_id",
        NUM_HASHES, BANDS, SHINGLE_K, LSH_THRESHOLD, LSH_MAX_BUCKET,
    )


SHARD_TOKEN_BUDGET = 1000


def q_text_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (operators/textops.py:pack_shards):
    per-doc shard assignment from a two-phase distributed prefix sum.
    Driver-visible (summarized per shard) via the ``shard`` mode of
    ``text_corpus_stats``."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_shards(
        docs, "text", "doc_id", shard_tokens=SHARD_TOKEN_BUDGET, block_size=100
    )


# composed curation pipeline: mixture weights over ten sources (the other
# ten get weight 0 → dropped) and a token budget small enough that the
# heavy sources downsample (<1.0 rates) while light ones keep everything
CURATION_MIX_WEIGHTS = {
    "src0": 0.20, "src1": 0.15, "src2": 0.15, "src3": 0.10, "src4": 0.10,
    "src5": 0.08, "src6": 0.07, "src7": 0.06, "src8": 0.05, "src9": 0.04,
}
CURATION_MIX_BUDGET = 6000
CURATION_SHARD_TOKENS = 1000
CURATION_SEG_WORDS = 10
CURATION_MIN_SEG_DOCS = 2


# The stages the three curation chains share, one implementation each.
# Every intermediate they return carries (doc_id, text, source, __lt,
# __bt): the whitespace and subword token counts of its CURRENT text, so
# no later stage re-tokenizes for the ledger.


def _ntok():
    """Whitespace-token count of ``text`` (empty pieces dropped) — the
    count the operators themselves publish, reported as ``tokens_out``."""
    return F.size(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != F.lit(""))
    ).cast("long")


def _gate(train: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Stage ``gate`` — Gopher-style quality filter
    (operators/textops.py:quality_filter). Returns the stage's rows_in
    aggregate and the kept corpus.

    The filter verdicts (doc_id, n_tokens, keep) are persisted: both the
    ledger count and the kept-key semi-join read them, so the rule
    expressions evaluate once. The kept corpus rides ONE bpe_encode
    crossing (text/source carried through the Arrow batch — no join
    back) so the ledger reports real subword counts (__bt) beside the
    whitespace counts (__lt) budgets historically used."""
    qf = _scoped_persist(quality_filter(train))
    kept = _scoped_persist(
        bpe_encode(
            train.join(
                qf.where("keep").select("doc_id"), "doc_id", "left_semi"
            ),
            carry_cols=("text", "source"),
        )
        .withColumnRenamed("n_bpe_tokens", "__bt")
        .drop("n_words")
        .withColumn("__lt", _ntok())
    )
    return qf.agg(F.count(F.lit(1)).cast("long").alias("n")), kept


def _para(c: DataFrame, cut) -> DataFrame:
    """Stage ``para`` — CCNet segment dedup, REWRITING each doc of ``c``
    to its surviving text (operators/textops.py:paragraph_dedup
    emit_text; all-boilerplate docs drop out). Both units are recounted
    on the rewritten text once: whitespace inline, subword via a second
    bpe_encode crossing. ``cut`` materializes the result: a scoped
    persist, or a lineage cut where the chain is deep enough for
    Catalyst's analysis cost to matter."""
    para = paragraph_dedup(
        c, "text", "doc_id", CURATION_SEG_WORDS, CURATION_MIN_SEG_DOCS,
        emit_text=True,
    )
    return cut(
        bpe_encode(
            para.where(F.col("text") != "")
            .select(F.col("key").alias("doc_id"), "text")
            .join(c.select("doc_id", "source"), "doc_id")
            .withColumn("__lt", _ntok()),
            carry_cols=("text", "source", "__lt"),
        )
        .withColumnRenamed("n_bpe_tokens", "__bt")
        .drop("n_words")
    )


def _neardup(c: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Stage ``neardup`` — MinHash-LSH pairs → connected components →
    keep-one-per-cluster over ``c`` (operators/dedup.py:
    minhash_lsh_dedup / connected_components / dedup_apply), persisted."""
    pairs = minhash_lsh_dedup(
        c, "text", "doc_id", NUM_HASHES, BANDS, SHINGLE_K,
        LSH_THRESHOLD, LSH_MAX_BUCKET,
    )
    clusters = connected_components(
        pairs.select("id_a", "id_b"), checkpoint_dir=checkpoint_dir
    )
    return _scoped_persist(dedup_apply(c, clusters, "doc_id"))


def _decontam(c: DataFrame, ev: DataFrame, cut) -> DataFrame:
    """Stage ``decontam`` — drop the docs of ``c`` sharing any
    DECONTAM_NGRAM_K-word shingle with the ORIGINAL eval text ``ev``
    (operators/textops.py:decontaminate); ``cut`` materializes the
    result, as in ``_para``."""
    hits = decontaminate(c, ev, "text", "doc_id", DECONTAM_NGRAM_K).select(
        F.col("key").alias("doc_id")
    )
    return cut(c.join(hits, "doc_id", "left_anti"))


def _mixture(
    c: DataFrame, budget: int, token_count_col: str | None = None
) -> DataFrame:
    """Stage ``mixture`` — resample ``c`` by source toward
    CURATION_MIX_WEIGHTS within ``budget`` tokens
    (operators/textops.py:mixture_sample), counted in
    ``token_count_col`` (whitespace tokens when None), persisted. A
    chain budgeting in a count column keeps its counts in __lt/__bt
    only: the sampler's own n_tokens and accept_rate are dropped."""
    mixed = mixture_sample(
        c, "source", CURATION_MIX_WEIGHTS, budget, "text", "doc_id",
        token_count_col=token_count_col,
    )
    if token_count_col is not None:
        mixed = mixed.drop("n_tokens", "accept_rate")
    return _scoped_persist(mixed)


def _shard(
    c: DataFrame, shard_tokens: int, token_count_col: str | None = None
) -> DataFrame:
    """Stage ``shard`` — pack ``c`` into ~``shard_tokens``-token shards
    (operators/textops.py:pack_shards, budget counted as in
    ``_mixture``) and return the stage's 1-row output aggregate: the
    shard count, the budget unit's token sum from the packing, and the
    other unit's from ``c`` (packing drops no documents)."""
    packed = pack_shards(
        c, "text", "doc_id", shard_tokens=shard_tokens, block_size=100,
        token_count_col=token_count_col,
    )
    unit, other, col = (
        ("tok", "bpe", "__bt") if token_count_col is None
        else ("bpe", "tok", "__lt")
    )
    return packed.agg(
        F.countDistinct("shard_id").cast("long").alias("n"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias(unit),
    ).crossJoin(
        c.agg(F.coalesce(F.sum(col), F.lit(0)).cast("long").alias(other))
    )


def _stats(c: DataFrame) -> DataFrame:
    """A stage's 1-row output aggregate: rows, whitespace and subword
    tokens."""
    return c.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("__lt"), F.lit(0)).cast("long").alias("tok"),
        F.coalesce(F.sum("__bt"), F.lit(0)).cast("long").alias("bpe"),
    )


def _ledger(stages, **out_cols: str) -> DataFrame:
    """The run ledger of a composed chain: one row per ``(name, prev,
    cur)`` stage, numbered from 1, with ``rows_in`` = ``prev``'s ``n``
    and each ``out_cols`` key taken from the ``cur`` column it names.
    ``prev`` and ``cur`` are 1-row aggregates, so each crossJoin is a
    trivial pairing."""
    ledger = None
    for i, (name, prev, cur) in enumerate(stages, start=1):
        row = (
            prev.select(F.col("n").alias("rows_in"))
            .crossJoin(
                cur.select(
                    *(F.col(src).alias(out) for out, src in out_cols.items())
                )
            )
            .select(
                F.lit(i).cast("long").alias("stage_no"),
                F.lit(name).alias("stage"),
                "rows_in",
                *out_cols,
            )
        )
        ledger = row if ledger is None else ledger.unionByName(row)
    return ledger


def _ledger_round_trip(spark: SparkSession, stages, table: str) -> DataFrame:
    """Observability round trip of a curation chain's ledger: it is
    APPENDED to a K5 history table and read back — the run log the
    reference writes per extraction (core/extract/ExtractionLogger.py:
    134-176), unified with this engine's history-sink machinery. The
    returned relation is the round-tripped table, so the oracle
    certifies the ledger write too."""
    from ..sinks.writers import history_append, table_path

    ledger = _ledger(
        stages, rows_out="n", tokens_out="tok", bpe_tokens_out="bpe"
    )
    base_dir = scratch_dir(f"mgo_{table}_ledger_")
    history_append(spark, ledger, base_dir, table)
    return spark.read.parquet(table_path(base_dir, f"{table}_history")).select(
        *ledger.columns
    )


def q_curation_pipeline(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """The COMPOSED LLM-data curation pipeline — every stage the
    operators exist for, chained over one corpus with a per-stage ledger:

      1. ``gate``     — Gopher-style quality filter
                        (operators/textops.py:quality_filter)
      2. ``para``     — CCNet segment dedup, REWRITING each doc to its
                        surviving text (operators/textops.py:
                        paragraph_dedup emit_text; all-boilerplate docs
                        drop out)
      3. ``neardup``  — MinHash-LSH pairs → connected components →
                        keep-one-per-cluster over the REWRITTEN text
                        (operators/dedup.py:minhash_lsh_dedup /
                        connected_components / dedup_apply)
      4. ``decontam`` — drop survivors sharing any 5-gram with the
                        held-out doc_id %% 23 == 0 eval split
                        (operators/textops.py:decontaminate)
      5. ``mixture``  — resample toward CURATION_MIX_WEIGHTS within a
                        CURATION_MIX_BUDGET token budget
                        (operators/textops.py:mixture_sample)
      6. ``shard``    — pack the curated corpus into ~1000-token shards
                        (operators/textops.py:pack_shards)

    The model-based scorers (operators/textops.py:lm_perplexity_score,
    dsir_importance_weight + dsir_gumbel_topk) slot between stages 1
    and 2 as additional gates in a production pass; they're kept out of
    this chain so its oracle stays a pure composition of the rule-based
    stages, and are oracle-checked as standalone members instead
    (``ppl``/``dsir``/``dsirsel`` modes of text_corpus_stats).

    Returns the ledger: (stage_no, stage, rows_in, rows_out,
    tokens_out), tokens counted on each stage's OUTPUT text (the
    whitespace-token count the operators themselves publish). This is
    the composition the per-operator rows can't test — schema drift and
    double-materialization bugs live between stages (round 6's
    encoder-ran-twice bug was exactly that), so every intermediate
    corpus is scoped-persisted and consumed by exactly one downstream
    stage plus its ledger aggregate. Reference counterpart: the composed
    route api/routes/tickets.py:15-41 → core/extract/Extractor.py:56-176
    (fetch → clean → enrich → load as ONE pipeline, not operator calls).
    Driver-visible via the ``curation`` mode of ``dedup_exact_suite``.

    At 100 TB: stages 1-2 are scan-speed projections/one segment agg;
    stage 3 shuffles only (band_key, key); stages 4-5 broadcast tiny
    eval/rate relations; stage 6 is the two-phase prefix sum. The ledger
    rows are 1-row aggregates over persisted intermediates — the only
    driver-side data is the 6-row ledger itself."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    ev = docs.where(F.col("doc_id") % DECONTAM_MODULUS == 0).select(
        "doc_id", "text"
    )
    train = docs.where(F.col("doc_id") % DECONTAM_MODULUS != 0)

    # stages 1-3 — quality gate, paragraph rewrite, near-dup
    # canonicalization on the rewritten corpus
    s_in, c1 = _gate(train)
    c2 = _para(c1, _scoped_persist)
    c3 = _neardup(c2, checkpoint_dir)

    # stages 4-6 — decontamination against the ORIGINAL eval text,
    # domain-mixture resample by source, shard packing
    c4 = _decontam(c3, ev, _scoped_persist)
    c5 = _mixture(c4, CURATION_MIX_BUDGET)
    s6 = _shard(c5, CURATION_SHARD_TOKENS)

    s1, s2, s3, s4, s5 = (_stats(c) for c in (c1, c2, c3, c4, c5))
    stages = [
        ("gate", s_in, s1), ("para", s1, s2), ("neardup", s2, s3),
        ("decontam", s3, s4), ("mixture", s4, s5), ("shard", s5, s6),
    ]
    return _ledger_round_trip(spark, stages, "curation_run")


CURATION_SEM_BITS = 6
CURATION_SEM_DIM = 32
CURATION_SEM_THRESHOLD = 0.9


def q_curation_semantic_pipeline(
    spark: SparkSession,
    sf_dir: str,
    sem_bits: int = CURATION_SEM_BITS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The curation chain with SEMANTIC dedup composed in — the stage
    the rule-based chain can't express: near-duplicates that share
    meaning-bearing vocabulary but few exact shingles survive MinHash;
    SemDeDup over the encoded corpus catches them. Five stages with the
    same per-stage ledger:

      1. ``gate``    — Gopher-style quality filter
      2. ``para``    — CCNet segment dedup, rewritten text forward
      3. ``neardup`` — MinHash-LSH → CC → keep-one (shingle identity)
      4. ``semdedup``— encode_documents (hash-projection, ONE
                       mapInPandas crossing) → 6-bit sign-block labels
                       (rh_signature) → semantic_dedup keep-low
                       survivors (operators/dedup.py:semantic_dedup —
                       cosine ≥ 0.9 within the assigned cluster —
                       this corpus's shared tiny vocabulary makes
                       projections broadly similar, so the member
                       threshold sits at the near-identical band)
      5. ``shard``   — ~1000-token shard packing

    The encoder output feeds BOTH the centroid pick and the assignment
    scan inside semantic_dedup, so it is scoped-persisted here — the
    round-6 double-encode lesson applied at composition time (the
    operator cannot know its input is a Python crossing). Ledger shape
    and BPE accounting identical to ``q_curation_pipeline``; oracle =
    the full five-stage DuckDB twin (stages 1-3 from the same CTE
    fragments as _curation_sql; stage 4 from sparse ±1 integer vector
    math, exact in both engines). Driver-visible via the
    ``curation_sem`` mode of ``dedup_exact_suite``."""
    from ..operators.annsearch import (
        encode_documents,
        rh_planes,
        rh_signature,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    train = docs.where(F.col("doc_id") % DECONTAM_MODULUS != 0)

    # stages 1-3: the same shared stages as q_curation_pipeline
    s_in, c1 = _gate(train)
    c2 = _para(c1, _scoped_persist)
    c3 = _neardup(c2, checkpoint_dir)

    # stage 4 — SemDeDup over the encoded survivors
    blocked = _scoped_persist(
        encode_documents(
            c3.select("doc_id", "text"), dim=CURATION_SEM_DIM
        ).withColumn(
            "label",
            rh_signature(
                F.col("embedding"),
                rh_planes(sem_bits, CURATION_SEM_DIM),
            ),
        )
    )
    verd = semantic_dedup(
        blocked, "embedding", "doc_id", "label",
        threshold=CURATION_SEM_THRESHOLD,
    )
    c4 = _scoped_persist(
        c3.join(
            verd.where(F.col("kept") == 1).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    )

    # stage 5 — shard packing
    s5 = _shard(c4, CURATION_SHARD_TOKENS)

    s1, s2, s3, s4 = (_stats(c) for c in (c1, c2, c3, c4))
    stages = [
        ("gate", s_in, s1), ("para", s1, s2), ("neardup", s2, s3),
        ("semdedup", s3, s4), ("shard", s4, s5),
    ]
    return _ledger_round_trip(spark, stages, "curation_sem_run")


# scored curation: the model gates slot between the rule gate and the
# dedup stages, and every budget runs on REAL subword counts. The BPE
# budget constants are the whitespace ones scaled by the measured ~4×
# whitespace→subword expansion on this corpus so stage selectivities
# stay comparable between the two chains.
CURATION_SCORED_DSIR_K = 200
CURATION_SCORED_MIX_BUDGET = 24_000  # bpe tokens
CURATION_SCORED_SHARD_TOKENS = 4_000  # bpe tokens


def q_curation_scored_pipeline(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """The SCORED curation pipeline — q_curation_pipeline's six
    rule-based stages with the model-based scorers composed INTO the
    chain (the composition q_curation_pipeline's docstring promises and
    keeps out of its own oracle), and every token budget running on real
    BPE subword counts instead of whitespace words:

      1. ``gate``      — Gopher-style quality filter
      2. ``ppl``       — CCNet perplexity gate: hashed-bigram LM trained
                         on the full-table English subset (same reference
                         model as the standalone ``ppl`` member), docs
                         bucketed ``tail`` are dropped
                         (operators/textops.py:lm_perplexity_score)
      3. ``dsirsel``   — DSIR selection: importance weights of the
                         surviving corpus against the English target,
                         Gumbel-top-k keeps CURATION_SCORED_DSIR_K docs
                         (textops.py:dsir_importance_weight /
                         dsir_gumbel_topk)
      4. ``para``      — CCNet segment dedup, rewritten text forward
      5. ``neardup``   — MinHash-LSH → CC → keep-one-per-cluster
      6. ``decontam``  — exact 5-gram eval decontamination
      7. ``fdecontam`` — fuzzy (MinHash-LSH) eval decontamination — the
                         paraphrase-robust second pass
                         (textops.py:fuzzy_decontaminate)
      8. ``mixture``   — domain resample within a BPE-token budget
                         (mixture_sample(token_count_col="__bt"))
      9. ``shard``     — ~CURATION_SCORED_SHARD_TOKENS-subword shards
                         (pack_shards(token_count_col="__bt"))

    Ledger schema matches q_curation_pipeline (stage_no, stage, rows_in,
    rows_out, tokens_out, bpe_tokens_out), appended to and read back
    from its own K5 history table. Reference counterpart: the scored
    enrichment route api/routes/conversations.py:9-15 →
    core/extract/Extractor.py:254-327 (model scoring INSIDE the
    pipeline, not beside it).

    At 100 TB: the two model builds are bounded aggs over the reference
    relation (≤V rows, broadcast back); the scorer stages add one narrow
    bigram/feature explode + one key-only groupBy each; Gumbel-top-k
    lowers to TakeOrderedAndProject; everything else is the proven
    curation plan. Two bpe_encode crossings (original text, rewritten
    text) carry the subword counts — the budgets then run on the number
    training contracts are written in.

    Plan-depth note: a nine-stage composition is past the point where
    Catalyst's analysis cost stays linear — with persist-only scoping
    the optimizer ground to a halt on the stage-7 plan (measured: the
    fuzzy stage never finished planning at sf0.001; with cuts the whole
    chain runs in seconds). c3/c4/c6 are therefore lineage-cut: same
    materialization cost as the persist the chain already paid, but the
    logical plan restarts from the materialized relation. The cuts sit
    exactly where the data contract changes (post-model-gates,
    post-rewrite, post-exact-decontam), so each downstream stage's plan
    is its OWN algebra, not the whole pipeline's. ``checkpoint_dir``
    selects the durability of every cut (here and in the CC rounds):
    None → localCheckpoint (executor-resident, the local default); a
    durable path → reliable checkpoint() whose blocks survive executor
    loss on a real cluster (operators/dedup.py:lineage_cut)."""
    from ..operators.dedup import lineage_cut
    from ..operators.textops import (
        dsir_gumbel_topk,
        dsir_importance_weight,
        fuzzy_decontaminate,
        lm_perplexity_score,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "lang"
    )
    ev = docs.where(F.col("doc_id") % DECONTAM_MODULUS == 0).select(
        "doc_id", "text"
    )
    train = docs.where(F.col("doc_id") % DECONTAM_MODULUS != 0).select(
        "doc_id", "text", "source"
    )
    # the clean reference corpus for BOTH scorers: the full-table English
    # subset (identical to the standalone ppl/dsir members' reference)
    en_ref = docs.where(F.col("lang") == "en").select("doc_id", "text")

    # stage 1 — quality gate
    s_in, c1 = _gate(train)

    # stage 2 — perplexity gate: drop the tail bucket
    ppl = lm_perplexity_score(
        c1, en_ref, LM_BUCKETS, head_nll=LM_HEAD_NLL, tail_nll=LM_TAIL_NLL
    )
    c2 = _scoped_persist(
        c1.join(
            ppl.where(F.col("ppl_bucket") != "tail").select("doc_id"),
            "doc_id",
            "left_semi",
        )
    )

    # stage 3 — DSIR Gumbel-top-k selection: weights of THIS corpus
    # (raw = c2) against the English target. localCheckpoint: first
    # plan-depth cut (see docstring).
    dsir = dsir_importance_weight(c2, en_ref, DSIR_BUCKETS)
    c3 = lineage_cut(
        c2.join(
            dsir_gumbel_topk(dsir, CURATION_SCORED_DSIR_K).select("doc_id"),
            "doc_id",
            "left_semi",
        ),
        checkpoint_dir,
    )

    # stage 4 — paragraph dedup, rewritten text + recounted (__lt, __bt);
    # second plan-depth cut
    c4 = _para(c3, lambda df: lineage_cut(df, checkpoint_dir))

    # stage 5 — near-dup canonicalization on the rewritten corpus
    c5 = _neardup(c4, checkpoint_dir)

    # stage 6 — exact n-gram decontamination vs the ORIGINAL eval text;
    # third plan-depth cut
    c6 = _decontam(c5, ev, lambda df: lineage_cut(df, checkpoint_dir))

    # stage 7 — fuzzy (LSH) decontamination: near-duplicate eval matches
    fhits = fuzzy_decontaminate(
        c6, ev, "text", "doc_id",
        NUM_HASHES, BANDS, SHINGLE_K, LSH_THRESHOLD, LSH_MAX_BUCKET,
    ).select("doc_id")
    c7 = _scoped_persist(c6.join(fhits, "doc_id", "left_anti"))

    # stages 8-9 — mixture resample and shard packing, both budgeted in
    # SUBWORD tokens
    c8 = _mixture(c7, CURATION_SCORED_MIX_BUDGET, "__bt")
    s9 = _shard(c8, CURATION_SCORED_SHARD_TOKENS, "__bt")

    s1, s2, s3, s4, s5, s6, s7, s8 = (
        _stats(c) for c in (c1, c2, c3, c4, c5, c6, c7, c8)
    )
    stages = [
        ("gate", s_in, s1), ("ppl", s1, s2), ("dsirsel", s2, s3),
        ("para", s3, s4), ("neardup", s4, s5), ("decontam", s5, s6),
        ("fdecontam", s6, s7), ("mixture", s7, s8), ("shard", s8, s9),
    ]
    return _ledger_round_trip(spark, stages, "curation_scored_run")


def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy-hitter tokens
    (operators/aggregations.py:cms_heavy_hitters): one sketch pass
    (depth 4 × width 1024 cells — broadcastable at any corpus size)
    upper-bounds every token's frequency; only tokens whose bound clears
    the threshold are exact-counted through a semi-join-pruned groupBy,
    and the exact count drops the sketch's false positives. The
    boilerplate-token detector a 100 TB curation pass runs instead of a
    full distinct-term groupBy. Driver-visible via the ``cms`` mode of
    ``text_corpus_stats``."""
    from ..operators.aggregations import cms_heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ).alias("token")
    )
    return cms_heavy_hitters(
        tokens, "token", threshold=200, width=1024, depth=4
    )


def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed Gopher-style keep/drop gate
    (operators/textops.py:quality_filter): every document scored against
    the full rule set in one scan, decision + failed-rule reasons out.
    Driver-visible via the ``qfilter`` mode of ``text_corpus_stats``."""
    from ..operators.textops import quality_filter

    docs = load_table(spark, sf_dir, "documents")
    return quality_filter(docs)


def _web_text_fixture(docs: DataFrame) -> DataFrame:
    """The deterministic web-text fixture shared by the URL/domain and
    link-graph members: the synthetic documents carry no URLs, so three
    are appended per doc (one ``https://www.``-prefixed with query
    string, one bare ``http://``, one under a ``co.uk``/``com.ph``
    multi-label public suffix), every byte derived from doc_id so both
    engines build the identical string."""
    dk = F.col("doc_id")
    u1 = F.format_string(
        "https://www.Sub%d.site%d.com/p/%d?ref=x", dk % 5, dk % 17, dk
    )
    u2 = F.format_string("http://cdn%d.example.org/asset/%d", dk % 3, dk)
    u3 = F.when(
        dk % 2 == 0,
        F.format_string("http://shop%d.acme%d.co.uk/b/%d", dk % 4, dk % 7, dk),
    ).otherwise(
        F.format_string("https://portal%d.metro%d.com.ph/c/%d", dk % 4, dk % 7, dk)
    )
    return docs.select(
        dk,
        F.concat_ws(
            " ", F.col("text"), F.lit("see"), u1, F.lit("and"), u2,
            F.lit("or"), u3,
        ).alias("web_text"),
    )


def q_text_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + domain rollup (operators/textops.py:extract_urls
    / domain_stats) over deterministic key-derived web text — the
    synthetic documents carry no URLs, so the fixture appends three per
    doc (one ``https://www.``-prefixed with query string, one bare
    ``http://`` with a port-free host, one under a ``co.uk``/``com.ph``
    multi-label public suffix) built from doc_id; both engines build the
    identical string, so the oracle checks extraction, host
    normalization (lowercase, www-strip, path/query cut) and the
    PSL-aware registered-domain rollup (operators/textops.py:psl_dim —
    ``shopN.acmeM.co.uk`` must roll up to ``acmeM.co.uk``, not
    ``co.uk``). Driver-visible via the ``url`` mode of
    ``text_corpus_stats``."""
    from ..operators.textops import domain_stats, psl_dim

    docs = load_table(spark, sf_dir, "documents")
    fixture = _web_text_fixture(docs)
    return domain_stats(fixture, "web_text", "doc_id", psl=psl_dim(spark))


def q_text_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain PageRank over the link graph the web-text fixture induces
    (operators/graph.py:pagerank — fixed-unroll integer spec, see its
    docstring): each doc's OWN domain is ``site{doc_id%%17}.com`` (the
    registered domain of its first fixture URL, so every source node
    carries a self-loop) and it cites the registered domains its text
    links to (operators/textops.py:extract_urls + PSL rollup). The rank
    a curation pass would join back as a per-domain quality prior —
    CommonCrawl publishes exactly this relation for its crawl graph.
    Driver-visible via the ``pr`` mode of ``text_corpus_stats``; the
    oracle unrolls the same five integer iterations as CTEs."""
    from ..operators.graph import pagerank
    from ..operators.textops import extract_urls, psl_dim

    docs = load_table(spark, sf_dir, "documents")
    u = extract_urls(
        _web_text_fixture(docs), "web_text", "doc_id", psl=psl_dim(spark)
    )
    edges = u.select(
        F.format_string("site%d.com", F.col("doc_id") % 17).alias("src"),
        F.col("registered_domain").alias("dst"),
    )
    # checkpoint_every=5 (= iterations): no mid-unroll lineage cut — a
    # 5-round unroll is a bounded plan, and the default cadence's eager
    # localCheckpoint after round 3 measured ~1 s of pure materialization
    # latency at sf0.1 in an interleaved A/B (2.9-3.5 s vs 1.8-2.3 s)
    # while changing no result bit (guide §5: cut/cache only what pays
    # for itself). Long unrolls keep the default cadence.
    return pagerank(edges, iterations=5, checkpoint_every=5).select(
        F.col("node").alias("domain"), "rank", "out_deg", "in_deg"
    )


def q_text_pagerank_rd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain PageRank with dangling-mass REDISTRIBUTION
    (operators/graph.py:pagerank ``dangling='redistribute'``) over the
    same link graph as ``q_text_pagerank``: each iteration's dangling
    mass is summed and floor-divided equally across all nodes before
    damping, conserving total mass to bounded floor remainders — the
    variant to use before ranks are read as probabilities (the organic
    citation graph is full of dangling target domains, so the two
    variants genuinely differ here). Driver-visible via the ``pr2``
    mode of ``text_corpus_stats``; the oracle unrolls the same five
    integer iterations with the per-iteration share as a scalar
    subquery."""
    from ..operators.graph import pagerank
    from ..operators.textops import extract_urls, psl_dim

    docs = load_table(spark, sf_dir, "documents")
    u = extract_urls(
        _web_text_fixture(docs), "web_text", "doc_id", psl=psl_dim(spark)
    )
    edges = u.select(
        F.format_string("site%d.com", F.col("doc_id") % 17).alias("src"),
        F.col("registered_domain").alias("dst"),
    )
    # DEFAULT checkpoint cadence kept, unlike q_text_pagerank: the
    # redistribute variant references the rank vector TWICE per round
    # (inbound + dangling share), so without the mid-unroll cut its
    # recompute plan doubles per round (audit: exch 132 → 1508 raw) for
    # a wall measured NEUTRAL (interleaved A/B: ck=3 6.02/5.07 s vs
    # ck=5 5.30/5.22 s — ReuseExchange collapses the duplicates at
    # execution, but the plan bloat buys nothing). The cut pays only
    # for the single-reference leak variant.
    return pagerank(edges, iterations=5, dangling="redistribute").select(
        F.col("node").alias("domain"), "rank", "out_deg", "in_deg"
    )


def q_text_pagerank_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with the DETERMINISTIC early stop
    (operators/graph.py:pagerank ``early_stop=True``): the web-text
    link graph restricted to its pure-sink edges (dst never appears as
    a src — self-loops and site-to-site links drop, leaving the
    bipartite site→external-domain citation graph). On that DAG the
    integer rank vector reaches its exact fixed point in three rounds
    — sources (no in-edges) quench after round 1, sinks after round 2,
    round 3 reproduces round 2 bit-for-bit — so the 12-round unroll cap
    stops at 3 (``PAGERANK_LAST``; a pytest pins it), while the oracle
    unrolls the FULL 12 CTE rounds: the driver hash-match is itself the
    proof that stopping at a fixed point returns exactly what the whole
    unroll would. Driver-visible via the ``pres`` mode of
    ``text_corpus_stats``."""
    from ..operators.graph import pagerank
    from ..operators.textops import extract_urls, psl_dim

    docs = load_table(spark, sf_dir, "documents")
    u = extract_urls(
        _web_text_fixture(docs), "web_text", "doc_id", psl=psl_dim(spark)
    )
    edges = u.select(
        F.format_string("site%d.com", F.col("doc_id") % 17).alias("src"),
        F.col("registered_domain").alias("dst"),
    )
    sinks_only = edges.join(
        F.broadcast(edges.select(F.col("src").alias("__s")).distinct()),
        F.col("dst") == F.col("__s"),
        "left_anti",
    )
    return pagerank(sinks_only, iterations=12, early_stop=True).select(
        F.col("node").alias("domain"), "rank", "out_deg", "in_deg"
    )


def _ring_edges(spark, n: int, fmt: str, hops=(1, 2)):
    """Planted link-farm ring: n nodes with edges at the given hop
    distances (ring alone at hops=(1,) is triangle-FREE; the distance-2
    chords are what close the triangles)."""
    r = spark.range(n)
    out = None
    for d in hops:
        h = r.select(
            F.format_string(fmt, F.col("id")).alias("src"),
            F.format_string(fmt, (F.col("id") + d) % n).alias("dst"),
        )
        out = h if out is None else out.unionByName(h)
    return out


def q_text_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph community detection (operators/graph.py:
    truss_communities) over the web-text citation graph
    ``q_text_pagerank`` ranks, plus two PLANTED link-farm rings on
    fresh nodes (7 ``farm*.biz`` and 5 ``mirror*.net`` domains, each a
    ring with distance-2 chords — the triangle-dense interlink pattern
    real spam farms exhibit). The organic citation graph is bipartite
    (sources cite targets, targets never cite each other), so it is
    triangle-FREE: every organic domain comes out a singleton, both
    farms come out as exactly their rings, and no bridge could merge
    them — which is the operator's whole point (a bridge sits in no
    triangle). Driver-visible via the ``truss`` mode of
    ``text_corpus_stats``; the oracle mirrors the support counting and
    the min-label walk over the shared edge prefix."""
    from ..operators.graph import truss_communities
    from ..operators.textops import extract_urls, psl_dim

    docs = load_table(spark, sf_dir, "documents")
    u = extract_urls(
        _web_text_fixture(docs), "web_text", "doc_id", psl=psl_dim(spark)
    )
    cite = u.select(
        F.format_string("site%d.com", F.col("doc_id") % 17).alias("src"),
        F.col("registered_domain").alias("dst"),
    )
    edges = cite.unionByName(_ring_edges(spark, 7, "farm%d.biz")).unionByName(
        _ring_edges(spark, 5, "mirror%d.net")
    )
    return truss_communities(edges).select(
        F.col("node").alias("domain"), "community", "community_size"
    )


def q_text_communities_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truss communities over a HUB-containing graph, unblocked by
    ``cap_degree`` (operators/graph.py): the citation-graph + ring
    fixture gains a promiscuous ``hub0.portal`` domain citing every
    site, farm, and mirror node (degree 29, vs the organic maximum of
    17 — degree here is scale-invariant, bounded by the fixture's
    domain moduli) — at ``max_degree=17`` the plain
    ``truss_communities`` refuses it loudly, and before round 10 the
    engine shipped no operator to satisfy the refusal's own "cap or
    sample hubs first" instruction. Here the hub's neighborhood is
    md5-sampled down to 17 (both-endpoints-keep, so the bound is
    guaranteed), and the capped graph flows through the same truss at
    the same ``max_degree``. The hub's surviving ring edges DO close
    triangles with adjacent ring nodes — a portal citing a whole farm
    honestly joins its 3-truss — which the oracle mirrors exactly
    (deterministic md5 ranking on both engines). Driver-visible via
    the ``cap`` mode of ``text_corpus_stats``."""
    from ..operators.graph import cap_degree, truss_communities
    from ..operators.textops import extract_urls, psl_dim

    docs = load_table(spark, sf_dir, "documents")
    u = extract_urls(
        _web_text_fixture(docs), "web_text", "doc_id", psl=psl_dim(spark)
    )
    cite = u.select(
        F.format_string("site%d.com", F.col("doc_id") % 17).alias("src"),
        F.col("registered_domain").alias("dst"),
    )
    hub = (
        spark.range(17)
        .select(
            F.lit("hub0.portal").alias("src"),
            F.format_string("site%d.com", F.col("id")).alias("dst"),
        )
        .unionByName(
            spark.range(7).select(
                F.lit("hub0.portal").alias("src"),
                F.format_string("farm%d.biz", F.col("id")).alias("dst"),
            )
        )
        .unionByName(
            spark.range(5).select(
                F.lit("hub0.portal").alias("src"),
                F.format_string("mirror%d.net", F.col("id")).alias("dst"),
            )
        )
    )
    edges = (
        cite.unionByName(_ring_edges(spark, 7, "farm%d.biz"))
        .unionByName(_ring_edges(spark, 5, "mirror%d.net"))
        .unionByName(hub)
    )
    capped = cap_degree(edges, max_degree=17)
    return truss_communities(
        capped, src_col="u", dst_col="v", max_degree=17
    ).select(F.col("node").alias("domain"), "community", "community_size")


def q_text_communities_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental truss communities (operators/graph.py:
    incremental_truss_communities): the standing corpus is the citation
    graph plus the BARE farm/mirror rings — triangle-free, every node a
    singleton, every stored support 0 — and the delta is the rings'
    distance-2 CHORDS, whose arrival closes the triangles and flips the
    OLD ring edges strong (the support-gain-on-old-edges case a naive
    delta-only recompute misses). Stored support is derived in-member
    (a table in production); drained result == the full-batch
    ``truss_communities`` over all edges — the ``text_communities``
    oracle verbatim. Driver-visible via the ``trussinc`` mode of
    ``text_corpus_stats``."""
    from ..operators.graph import incremental_truss_communities
    from ..operators.textops import extract_urls, psl_dim

    docs = load_table(spark, sf_dir, "documents")
    u = extract_urls(
        _web_text_fixture(docs), "web_text", "doc_id", psl=psl_dim(spark)
    )
    cite = u.select(
        F.format_string("site%d.com", F.col("doc_id") % 17).alias("src"),
        F.col("registered_domain").alias("dst"),
    )
    corpus = (
        cite.unionByName(_ring_edges(spark, 7, "farm%d.biz", hops=(1,)))
        .unionByName(_ring_edges(spark, 5, "mirror%d.net", hops=(1,)))
    )
    delta = _ring_edges(spark, 7, "farm%d.biz", hops=(2,)).unionByName(
        _ring_edges(spark, 5, "mirror%d.net", hops=(2,))
    )
    return incremental_truss_communities(corpus, delta).select(
        F.col("node").alias("domain"), "community", "community_size"
    )


def q_text_communities_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE shape of incremental truss (operators/graph.py:
    incremental_truss_communities with ``corpus_assignment`` +
    ``emit='changed'``): same fixture as ``trussinc``, but the member
    passes the STORED assignment (derived in-member; a table in
    production), receives only the recomputed rows — touched
    communities ∪ new nodes, the delta's neighborhood — and MERGEs
    them over the stored table. The merged relation must equal the
    full-batch ``truss_communities`` verbatim (the ``text_communities``
    oracle), proving the untouched-rows carry can be skipped entirely:
    the production ingest pays no full-assignment scan. Driver-visible
    via the ``trussmrg`` mode of ``text_corpus_stats``."""
    from ..operators.graph import (
        _sym,
        edge_support,
        incremental_truss_communities,
        truss_communities,
    )
    from ..operators.textops import extract_urls, psl_dim

    docs = load_table(spark, sf_dir, "documents")
    u = extract_urls(
        _web_text_fixture(docs), "web_text", "doc_id", psl=psl_dim(spark)
    )
    cite = u.select(
        F.format_string("site%d.com", F.col("doc_id") % 17).alias("src"),
        F.col("registered_domain").alias("dst"),
    )
    corpus = (
        cite.unionByName(_ring_edges(spark, 7, "farm%d.biz", hops=(1,)))
        .unionByName(_ring_edges(spark, 5, "mirror%d.net", hops=(1,)))
    )
    delta = _ring_edges(spark, 7, "farm%d.biz", hops=(2,)).unionByName(
        _ring_edges(spark, 5, "mirror%d.net", hops=(2,))
    )
    stored = truss_communities(corpus).localCheckpoint(eager=True)
    changed = incremental_truss_communities(
        corpus,
        delta,
        corpus_support=edge_support(_sym(corpus, "src", "dst")),
        corpus_assignment=stored,
        emit="changed",
    )
    merged = stored.join(
        changed.select("node"), "node", "left_anti"
    ).unionByName(changed)
    return merged.select(
        F.col("node").alias("domain"), "community", "community_size"
    )


def q_text_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-quota sampling (operators/textops.py:group_sample_k): 20
    docs per language in deterministic md5(key) order. Driver-visible
    via the ``ksample`` mode of ``text_corpus_stats``."""
    from ..operators.textops import group_sample_k

    docs = load_table(spark, sf_dir, "documents")
    return group_sample_k(docs, "lang", k=20).select(
        "lang", "doc_id", "sample_rank"
    )


# binary-exact mixture weights (0.25/0.5 avoid decimal-float drift in the
# normalizing sum) and token budget for the mixture-resampling member
MIXTURE_WEIGHTS = {"de": 0.5, "en": 0.25, "zh": 0.25}
MIXTURE_BUDGET = 8000

# hashed linear model size for the quality-scorer member
QMODEL_BUCKETS = 4096


def q_text_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling (operators/textops.py:mixture_sample):
    rebalance the corpus toward a 50/25/25 de/en/zh token mixture within
    an 8000-token budget — es/fr drop out (weight 0), de keeps
    everything (under-represented, rate caps at 1.0), en/zh downsample.
    Summarized per language. Driver-visible via the ``mixture`` mode of
    ``text_corpus_stats``."""
    docs = load_table(spark, sf_dir, "documents")
    kept = mixture_sample(
        docs, "lang", MIXTURE_WEIGHTS, MIXTURE_BUDGET, "text", "doc_id"
    )
    return (
        kept.groupBy("lang", "accept_rate")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_kept"),
        )
        .select("lang", "n_docs", "n_tokens_kept", "accept_rate")
    )


TEMP_ALPHA = 0.5
TEMP_BUDGET = 8000


def q_text_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain balancing
    (operators/textops.py:temperature_sample): α = 0.5 smoothing of the
    per-language token shares within an 8000-token budget — low-resource
    languages keep a larger fraction than proportional sampling would
    give them, the standard multilingual pretraining mix. Summarized per
    language. Driver-visible via the ``tsample`` mode of
    ``text_corpus_stats``."""
    from ..operators.textops import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = temperature_sample(
        docs, "lang", TEMP_ALPHA, TEMP_BUDGET, "text", "doc_id"
    )
    return (
        kept.groupBy("lang", "accept_rate")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_kept"),
        )
        .select("lang", "n_docs", "n_tokens_kept", "accept_rate")
    )


def qmodel_weights(spark: SparkSession) -> DataFrame:
    """Deterministic stand-in for a trained linear model: integer
    milli-weights derived from a Knuth multiplicative mix of the bucket
    id, reproducible in any engine. A real deployment loads the trained
    (bucket, weight) table instead; the scoring plan is identical."""
    return spark.range(QMODEL_BUCKETS).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * 2654435761) % 2001 - 1000).alias("weight"),
    )


def q_text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality-model scoring
    (operators/textops.py:hashed_linear_score): every document scored
    against a 4096-bucket integer-weight model via explode →
    broadcast-join → one groupBy(doc). Driver-visible via the
    ``qmodel`` mode of ``text_corpus_stats``."""
    from ..operators.textops import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    return hashed_linear_score(
        docs, qmodel_weights(spark), QMODEL_BUCKETS, "text", "doc_id"
    )


LM_BUCKETS = 2048
LM_HEAD_NLL = 5.15
LM_TAIL_NLL = 5.20
DSIR_BUCKETS = 4096


def q_text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering
    (operators/textops.py:lm_perplexity_score): a hashed bigram LM is
    trained on the English subset (the "clean reference corpus") and
    every document is scored + bucketed head/middle/tail. English docs
    skew head — the reference-language preference the CCNet paper
    filters by. Driver-visible via the ``ppl`` mode of
    ``text_corpus_stats``."""
    from ..operators.textops import lm_perplexity_score

    docs = load_table(spark, sf_dir, "documents")
    return lm_perplexity_score(
        docs,
        docs.where(F.col("lang") == "en"),
        LM_BUCKETS,
        head_nll=LM_HEAD_NLL,
        tail_nll=LM_TAIL_NLL,
    )


def q_text_dsir_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting
    (operators/textops.py:dsir_importance_weight): every document scored
    by the hashed-n-gram log likelihood ratio of the English target
    distribution vs the whole-corpus raw distribution — English docs get
    the highest weights, the selection signal DSIR resamples by.
    Driver-visible via the ``dsir`` mode of ``text_corpus_stats``."""
    from ..operators.textops import dsir_importance_weight

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance_weight(
        docs, docs.where(F.col("lang") == "en"), DSIR_BUCKETS
    )


DSIR_TOPK = 50


def q_text_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-k selection
    (operators/textops.py:dsir_gumbel_topk): the 50 documents kept by
    perturbing each importance weight with a deterministic md5-derived
    Gumbel and taking the largest — the paper's actual resampling step,
    reproducible across engines. Driver-visible via the ``dsirsel``
    mode of ``text_corpus_stats``."""
    from ..operators.textops import dsir_gumbel_topk, dsir_importance_weight

    docs = load_table(spark, sf_dir, "documents")
    scored = dsir_importance_weight(
        docs, docs.where(F.col("lang") == "en"), DSIR_BUCKETS
    )
    return dsir_gumbel_topk(scored, DSIR_TOPK)


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization (operators/textops.py:bpe_encode): every
    document segmented with the fixed public-statistics merge table
    (textops.BPE_MERGES), publishing real subword counts beside word
    counts. The oracle replays the identical leftmost-lowest-rank merge
    loop as a DuckDB recursive CTE over the distinct-word vocabulary.
    Driver-visible via the ``bpe`` mode of ``text_corpus_stats``;
    the TRAINING loop (textops.bpe_train) is pinned in pytest to the
    published Sennrich walk-through instead (iterative — not
    SQL-expressible)."""
    from ..operators.textops import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode(docs)


def q_text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text retrieval (operators/textops.py:bm25_topk): top-15
    documents for the query ``hash join vector`` — rational-idf BM25 over
    the posting-list index, scored only on term-pruned candidates.
    Driver-visible via the ``bm25`` mode of ``text_corpus_stats``."""
    from ..operators.textops import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["hash", "join", "vector"], "text", "doc_id", k=15)


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: media blob → fixed-size frame rows with digests."""
    from ..operators.multimodal import frame_sample, to_media_column

    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(to_media_column(docs))


def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup over the deterministic BMP fixtures:
    genuine pixel decode → dHash → Hamming-banded pairs → CC → keep-one
    (operators/multimodal.py:image_phash_dedup). The fixture plants a
    byte-level re-encode, a brightness-shifted copy, and two crops, so
    the member certifies that CONTENT-level duplicates pair with their
    originals across byte-level differences. Driver-visible via the
    ``img_dedup`` mode of ``multimodal_suite``."""
    from pyspark.sql import types as T

    from ..operators.multimodal import image_phash_dedup, phash_fixture_images
    from ..session import ship_package

    ship_package(spark)
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
    out = image_phash_dedup(fixture)
    return out.select(
        F.col("key").alias("img_id"), "dhash", "keep_id", "is_dup"
    )


def _hamming_dedup_sql(vals: str, key_out: str, fp_out: str) -> str:
    """DuckDB twin builder for the perceptual-dedup family: expected
    64-bit fingerprints inline as VALUES (computed pre-pack, pinning
    each codec's pack→decode round trip), the brute-force Hamming-≤7
    spec the banded path provably equals (radius ≤ bands−1), a
    recursive CC label walk, and keep-one survival."""
    return f"""
    WITH RECURSIVE items(k, fp) AS (VALUES {vals}),
    pairs AS (
      SELECT a.k AS id_a, b.k AS id_b
      FROM items a CROSS JOIN items b
      WHERE a.k < b.k AND {_hamming_sql()} <= 7),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs),
    walk(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
    comp AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node)
    SELECT CAST(k AS BIGINT) AS {key_out}, fp AS {fp_out},
           CAST(coalesce(cluster_id, k) AS BIGINT) AS keep_id,
           CAST(CASE WHEN cluster_id IS NOT NULL AND cluster_id <> k
                THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM items LEFT JOIN comp ON k = node
    """


def _image_phash_sql() -> str:
    from ..operators.multimodal import phash_fixture_images

    vals = ", ".join(
        f"({c['img_id']}, '{c['dhash']}')" for c in phash_fixture_images()
    )
    return _hamming_dedup_sql(vals, "img_id", "dhash")


def _audio_fp_sql() -> str:
    from ..operators.multimodal import audio_fp_fixture_clips

    vals = ", ".join(
        f"({c['clip_id']}, '{c['fp']}')" for c in audio_fp_fixture_clips()
    )
    return _hamming_dedup_sql(vals, "clip_id", "fp")


def _video_phash_sql() -> str:
    """DuckDB twin of q_dedup_video_phash: expected per-frame dHashes
    (pre-pack) inline as VALUES, the brute-force cross-video frame-pair
    spec (Hamming ≤ 5, the banded path provably equals it), video pairs
    at ≥ 4 matching frames, recursive CC, keep-one."""
    from ..operators.multimodal import video_fixture_clips

    vals = ", ".join(
        f"({c['video_id']}, {i}, '{h}')"
        for c in video_fixture_clips()
        for i, h in enumerate(c["frame_dhashes"])
    )
    return f"""
    WITH RECURSIVE fps(vid, fno, fp) AS (VALUES {vals}),
    fpairs AS (
      SELECT a.vid AS va, b.vid AS vb
      FROM fps a CROSS JOIN fps b
      WHERE a.vid < b.vid AND {_hamming_sql()} <= 5),
    vp AS (
      SELECT va, vb FROM fpairs GROUP BY va, vb HAVING count(*) >= 4),
    edges AS (
      SELECT va AS src, vb AS dst FROM vp
      UNION
      SELECT vb AS src, va AS dst FROM vp),
    walk(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
    comp AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node),
    vids AS (SELECT vid, CAST(count(*) AS BIGINT) AS n_frames
             FROM fps GROUP BY vid)
    SELECT CAST(vid AS BIGINT) AS video_id, n_frames,
           CAST(coalesce(cluster_id, vid) AS BIGINT) AS keep_id,
           CAST(CASE WHEN cluster_id IS NOT NULL AND cluster_id <> vid
                THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM vids LEFT JOIN comp ON vid = node
    """


def q_dedup_video_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-content near-dup over animated-GIF fixtures: multi-frame
    decode → per-frame dHash → cross-video frame matching → CC →
    keep-one (operators/multimodal.py:video_phash_dedup). The fixture
    plants a byte-distinct re-encode (all frames match) and a
    head-trimmed copy (7 of 8 frames match at SHIFTED positions —
    content matching, not index alignment). Driver-visible via the
    ``video_dedup`` mode of ``multimodal_suite``."""
    from pyspark.sql import types as T

    from ..operators.multimodal import video_fixture_clips, video_phash_dedup
    from ..session import ship_package

    ship_package(spark)
    fixture = local_table(
        spark,
        [
            (c["video_id"], bytearray(c["payload"]))
            for c in video_fixture_clips()
        ],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    out = video_phash_dedup(fixture)
    return out.select(
        F.col("key").alias("video_id"), "n_frames", "keep_id", "is_dup"
    )


def _image_phash_inc_split():
    """Fixture split for the incremental member: the perturbed copies
    arrive as the DELTA against a standing corpus of the bases plus one
    prior near-dup (13) — so the corpus-corpus pair 13-1 exists in a
    batch run but must NOT be emitted by the incremental path."""
    from ..operators.multimodal import phash_fixture_images

    delta_ids = {10, 11, 12, 14, 15}
    imgs = phash_fixture_images()
    corpus = [c for c in imgs if c["img_id"] not in delta_ids]
    delta = [c for c in imgs if c["img_id"] in delta_ids]
    return corpus, delta


def q_dedup_image_phash_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental perceptual dedup (operators/dedup.py:
    incremental_hamming_pairs): the fixture's perturbed copies ingest as
    a delta against the standing corpus — delta-involved pairs emitted,
    corpus×corpus pairs (13-1) provably absent. Driver-visible via the
    ``img_dedup_inc`` mode of ``multimodal_suite``."""
    from pyspark.sql import types as T

    from ..operators.dedup import incremental_hamming_pairs
    from ..operators.multimodal import real_image_dhash
    from ..session import ship_package

    ship_package(spark)
    corpus, delta = _image_phash_inc_split()
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
        ]
    )

    def fps(rows):
        df = local_table(
            spark,
            [(c["img_id"], bytearray(c["payload"])) for c in rows], schema
        )
        return real_image_dhash(df).select("key", F.col("dhash").alias("fp"))

    return incremental_hamming_pairs(fps(corpus), fps(delta))


def _hamming_pairs_sql(imgs, delta=()) -> str:
    """Brute-force Hamming-≤7 pairs over the pHash fixture images'
    expected hashes — the spec the banded path provably equals —
    restricted to pairs touching a ``delta`` image when one is given."""
    vals = ", ".join(
        f"({c['img_id']}, '{c['dhash']}', {int(c in delta)})" for c in imgs
    )
    touch = " AND (a.d = 1 OR b.d = 1)" if delta else ""
    return f"""
    WITH items(k, fp, d) AS (VALUES {vals})
    SELECT CAST(a.k AS BIGINT) AS id_a, CAST(b.k AS BIGINT) AS id_b,
           CAST({_hamming_sql()} AS BIGINT) AS hamming_dist
    FROM items a CROSS JOIN items b
    WHERE a.k < b.k{touch} AND {_hamming_sql()} <= 7
    """


def _image_phash_inc_sql() -> str:
    """DuckDB twin: the fixture's brute-force pairs RESTRICTED to
    delta-involved pairs — the exactness property of the incremental
    path."""
    corpus, delta = _image_phash_inc_split()
    return _hamming_pairs_sql(corpus + delta, delta)


def q_dedup_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-content near-dup over the deterministic WAV fixtures:
    genuine PCM decode → temporal-energy dHash → Hamming-banded pairs →
    CC → keep-one (operators/multimodal.py:audio_fp_dedup). The fixture
    plants a re-headered re-encode, an exact 2× volume copy, a 4-frame
    truncation, and a stereo duplication — four byte-distinct files
    whose CONTENT clusters with the originals. Driver-visible via the
    ``audio_dedup`` mode of ``multimodal_suite``."""
    from pyspark.sql import types as T

    from ..operators.multimodal import audio_fp_dedup, audio_fp_fixture_clips
    from ..session import ship_package

    ship_package(spark)
    fixture = local_table(
        spark,
        [
            (c["clip_id"], bytearray(c["payload"]))
            for c in audio_fp_fixture_clips()
        ],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    out = audio_fp_dedup(fixture)
    return out.select(F.col("key").alias("clip_id"), "fp", "keep_id", "is_dup")


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_image_phash": q_dedup_image_phash,
    "dedup_audio_fp": q_dedup_audio_fp,
    "dedup_video_phash": q_dedup_video_phash,
    "dedup_image_phash_inc": q_dedup_image_phash_inc,
    "dedup_apply": q_dedup_apply,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_salvage": q_dedup_minhash_salvage,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_near": q_dedup_simhash_near,
    "dedup_ngram_pairs": q_dedup_ngram_pairs,
    "dedup_clusters": q_dedup_clusters,
    "split_leakage_safe": q_split_leakage_safe,
    "dedup_incremental": q_dedup_incremental,
    "dedup_embedding": q_dedup_embedding,
    "dedup_semantic": q_dedup_semantic,
    "dedup_semantic_routed": q_dedup_semantic_routed,
    "dedup_semantic_inc": q_dedup_semantic_inc,
    "text_substring_dedup": q_text_substring_dedup,
    "text_fingerprint": q_text_fingerprint,
    "text_language_id": q_text_language_id,
    "text_quality_score": q_text_quality_score,
    "text_token_counts": q_text_token_counts,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_project_topk": q_ann_project_topk,
    "ann_sq_topk": q_ann_sq_topk,
    "ann_ivfsq_topk": q_ann_ivfsq_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_filtered_topk": q_ann_filtered_topk,
    "ann_ivf_multiprobe_topk": q_ann_ivf_multiprobe_topk,
    "ann_rh_lsh_topk": q_ann_rh_lsh_topk,
    "ann_rh_multiprobe_topk": q_ann_rh_multiprobe_topk,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "ann_encode_topk": q_ann_encode_topk,
    "multimodal_frames": q_multimodal_frames,
    "text_tfidf_top_terms": q_text_tfidf_top_terms,
    "text_heavy_hitters": q_text_heavy_hitters,
    "text_bm25_search": q_text_bm25_search,
    "text_quality_filter": q_text_quality_filter,
    "text_url_domains": q_text_url_domains,
    "text_pagerank": q_text_pagerank,
    "text_pagerank_rd": q_text_pagerank_rd,
    "text_pagerank_es": q_text_pagerank_es,
    "text_communities": q_text_communities,
    "text_communities_capped": q_text_communities_capped,
    "text_communities_inc": q_text_communities_inc,
    "text_communities_merge": q_text_communities_merge,
    "text_group_sample": q_text_group_sample,
    "text_repetition": q_text_repetition,
    "text_pii_scrub": q_text_pii_scrub,
    "text_stratified_sample": q_text_stratified_sample,
    "text_mixture_sample": q_text_mixture_sample,
    "text_temperature_sample": q_text_temperature_sample,
    "text_quality_model": q_text_quality_model,
    "text_lm_perplexity": q_text_lm_perplexity,
    "text_dsir_weight": q_text_dsir_weight,
    "text_dsir_resample": q_text_dsir_resample,
    "text_bpe_encode": q_text_bpe_encode,
    "text_paragraph_dedup": q_text_paragraph_dedup,
    "text_decontaminate": q_text_decontaminate,
    "text_fuzzy_decontaminate": q_text_fuzzy_decontaminate,
    "text_shard_pack": q_text_shard_pack,
    "curation_pipeline": q_curation_pipeline,
    "curation_scored_pipeline": q_curation_scored_pipeline,
    "curation_semantic_pipeline": q_curation_semantic_pipeline,
}


# shared SQL fragments -------------------------------------------------------


def _url_domains_sql() -> str:
    """Mirror of extract_urls/domain_stats with the PSL dim: the same
    trimmed public-suffix tuple is inlined as an IN list, so a host
    whose last two labels are a public suffix rolls up to three."""
    from ..operators.textops import PUBLIC_SUFFIXES

    in_list = ", ".join(f"'{s}'" for s in PUBLIC_SUFFIXES)
    return r"""
        WITH t AS (
          SELECT doc_id,
                 concat_ws(' ', text, 'see',
                   printf('https://www.Sub%d.site%d.com/p/%d?ref=x',
                          doc_id % 5, doc_id % 17, doc_id),
                   'and',
                   printf('http://cdn%d.example.org/asset/%d',
                          doc_id % 3, doc_id),
                   'or',
                   CASE WHEN doc_id % 2 = 0
                        THEN printf('http://shop%d.acme%d.co.uk/b/%d',
                                    doc_id % 4, doc_id % 7, doc_id)
                        ELSE printf('https://portal%d.metro%d.com.ph/c/%d',
                                    doc_id % 4, doc_id % 7, doc_id) END
                 ) AS web_text
          FROM documents),
        u AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(web_text, 'https?://[^\s]+'))
                   AS url
          FROM t),
        h AS (
          SELECT doc_id, url,
                 regexp_replace(
                   regexp_extract(
                     lower(regexp_extract(url, 'https?://([^/?#\s]+)', 1)),
                     '^(?:[^@]*@)?([^:]+)', 1),
                   '^www\.', '') AS host
          FROM u)
        SELECT CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
                         IN (""" + in_list + r""")
                     AND regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
                         <> ''
                    THEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
                    ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END
                 AS registered_domain,
               count(*) AS n_urls,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM h GROUP BY 1
    """


_URL_DOMAINS_SQL = _url_domains_sql()


def _link_edges_ctes() -> str:
    """The web-text fixture -> URL -> registered-domain edge-relation CTE
    prefix (t, u, h, e) shared VERBATIM by the PageRank and LPA oracles
    — one mirror of the extraction, two graph algorithms."""
    from ..operators.textops import PUBLIC_SUFFIXES

    in_list = ", ".join(f"'{s}'" for s in PUBLIC_SUFFIXES)
    regdom = (
        r"""CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
                      IN (""" + in_list + r""")
                  AND regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
                      <> ''
                 THEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
                 ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END"""
    )
    return (
        r"""t AS (
          SELECT doc_id,
                 concat_ws(' ', text, 'see',
                   printf('https://www.Sub%d.site%d.com/p/%d?ref=x',
                          doc_id % 5, doc_id % 17, doc_id),
                   'and',
                   printf('http://cdn%d.example.org/asset/%d',
                          doc_id % 3, doc_id),
                   'or',
                   CASE WHEN doc_id % 2 = 0
                        THEN printf('http://shop%d.acme%d.co.uk/b/%d',
                                    doc_id % 4, doc_id % 7, doc_id)
                        ELSE printf('https://portal%d.metro%d.com.ph/c/%d',
                                    doc_id % 4, doc_id % 7, doc_id) END
                 ) AS web_text
          FROM documents),
        u AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(web_text, 'https?://[^\s]+'))
                   AS url
          FROM t),
        h AS (
          SELECT doc_id, url,
                 regexp_replace(
                   regexp_extract(
                     lower(regexp_extract(url, 'https?://([^/?#\s]+)', 1)),
                     '^(?:[^@]*@)?([^:]+)', 1),
                   '^www\.', '') AS host
          FROM u),
        e AS (
          SELECT DISTINCT printf('site%d.com', doc_id % 17) AS src,
                 """ + regdom + r""" AS dst
          FROM h)"""
    )


def _pagerank_sql(iterations: int = 5) -> str:
    """Unrolled-CTE mirror of q_text_pagerank: same web-text fixture and
    URL→registered-domain extraction as _url_domains_sql, then the
    integer PageRank spec (operators/graph.py:pagerank) as one CTE per
    iteration — BIGINT floor divisions only, so the ranks are bit-equal
    across engines by construction. DuckDB's SUM(BIGINT) widens to
    HUGEINT; every intermediate stays exact and the final rank casts
    back down."""
    teleport = (15 * 10**12) // 100
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f"""r{i} AS (
          SELECT n.node,
                 CAST({teleport} + (85 * COALESCE(s.m, 0)) // 100
                      AS BIGINT) AS rk
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, SUM(r.rk // d.out_deg) AS m
            FROM e JOIN r{i - 1} r ON r.node = e.src
                   JOIN deg d ON d.src = e.src
            GROUP BY 1) s ON s.node = n.node)"""
        )
    return (
        "\n        WITH " + _link_edges_ctes() + r""",
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY 1),
        ideg AS (SELECT dst, count(*) AS in_deg FROM e GROUP BY 1),
        r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rk FROM nodes),
        """ + ",\n        ".join(iters) + f"""
        SELECT n.node AS domain, r{iterations}.rk AS rank,
               CAST(COALESCE(deg.out_deg, 0) AS BIGINT) AS out_deg,
               CAST(COALESCE(ideg.in_deg, 0) AS BIGINT) AS in_deg
        FROM nodes n JOIN r{iterations} ON r{iterations}.node = n.node
        LEFT JOIN deg ON deg.src = n.node
        LEFT JOIN ideg ON ideg.dst = n.node
    """
    )


def _pagerank_dag_sql(iterations: int = 12) -> str:
    """Unrolled mirror of q_text_pagerank_es: the leak-variant unroll
    over the SINK-ONLY edge subset (dst never appears as a src). The
    oracle deliberately unrolls ALL ``iterations`` CTE rounds while the
    Spark member stops at the round-3 fixed point — the driver's
    hash-match is the cross-engine proof the early stop is exact."""
    teleport = (15 * 10**12) // 100
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f"""r{i} AS (
          SELECT n.node,
                 CAST({teleport} + (85 * COALESCE(s.m, 0)) // 100
                      AS BIGINT) AS rk
          FROM nodes n LEFT JOIN (
            SELECT ed.dst AS node, SUM(r.rk // d.out_deg) AS m
            FROM ed JOIN r{i - 1} r ON r.node = ed.src
                    JOIN deg d ON d.src = ed.src
            GROUP BY 1) s ON s.node = n.node)"""
        )
    return (
        "\n        WITH " + _link_edges_ctes() + r""",
        ed AS (
          SELECT src, dst FROM e
          WHERE dst NOT IN (SELECT DISTINCT src FROM e)),
        nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        deg AS (SELECT src, count(*) AS out_deg FROM ed GROUP BY 1),
        ideg AS (SELECT dst, count(*) AS in_deg FROM ed GROUP BY 1),
        r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rk FROM nodes),
        """ + ",\n        ".join(iters) + f"""
        SELECT n.node AS domain, r{iterations}.rk AS rank,
               CAST(COALESCE(deg.out_deg, 0) AS BIGINT) AS out_deg,
               CAST(COALESCE(ideg.in_deg, 0) AS BIGINT) AS in_deg
        FROM nodes n JOIN r{iterations} ON r{iterations}.node = n.node
        LEFT JOIN deg ON deg.src = n.node
        LEFT JOIN ideg ON ideg.dst = n.node
    """
    )


def _pagerank_rd_sql(iterations: int = 5) -> str:
    """Unrolled mirror of q_text_pagerank_rd: the leak mirror plus a
    per-iteration dangling-share scalar (Σ rank of nodes with no
    out-edges, floor-divided by the node count) added to every node's
    inbound mass before damping — all BIGINT/HUGEINT floor arithmetic,
    bit-equal by construction."""
    teleport = (15 * 10**12) // 100
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f"""dg{i} AS (
          SELECT COALESCE(SUM(rk), 0)
                   // (SELECT count(*) FROM nodes) AS sh
          FROM r{i - 1}
          WHERE node NOT IN (SELECT src FROM deg)),
        r{i} AS (
          SELECT n.node,
                 CAST({teleport}
                      + (85 * (COALESCE(s.m, 0) + dg{i}.sh)) // 100
                      AS BIGINT) AS rk
          FROM nodes n
          CROSS JOIN dg{i}
          LEFT JOIN (
            SELECT e.dst AS node, SUM(r.rk // d.out_deg) AS m
            FROM e JOIN r{i - 1} r ON r.node = e.src
                   JOIN deg d ON d.src = e.src
            GROUP BY 1) s ON s.node = n.node)"""
        )
    return (
        "\n        WITH " + _link_edges_ctes() + r""",
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY 1),
        ideg AS (SELECT dst, count(*) AS in_deg FROM e GROUP BY 1),
        r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rk FROM nodes),
        """ + ",\n        ".join(iters) + f"""
        SELECT n.node AS domain, r{iterations}.rk AS rank,
               CAST(COALESCE(deg.out_deg, 0) AS BIGINT) AS out_deg,
               CAST(COALESCE(ideg.in_deg, 0) AS BIGINT) AS in_deg
        FROM nodes n JOIN r{iterations} ON r{iterations}.node = n.node
        LEFT JOIN deg ON deg.src = n.node
        LEFT JOIN ideg ON ideg.dst = n.node
    """
    )


def _truss_sql() -> str:
    """Unrolled mirror of q_text_communities: the shared edge
    extraction, wedge-join common-neighbor support, strong (>= 1
    triangle) edges, then the recursive min-label walk every CC oracle
    here uses — it works on string nodes directly."""
    return (
        "\n        WITH RECURSIVE " + _link_edges_ctes() + r""",
        ring AS (
          SELECT printf('farm%d.biz', i) AS src,
                 printf('farm%d.biz', (i + 1) % 7) AS dst FROM range(7) t(i)
          UNION ALL
          SELECT printf('farm%d.biz', i), printf('farm%d.biz', (i + 2) % 7)
          FROM range(7) t(i)
          UNION ALL
          SELECT printf('mirror%d.net', i), printf('mirror%d.net', (i + 1) % 5)
          FROM range(5) t(i)
          UNION ALL
          SELECT printf('mirror%d.net', i), printf('mirror%d.net', (i + 2) % 5)
          FROM range(5) t(i)),
        e2 AS (SELECT src, dst FROM e UNION ALL SELECT src, dst FROM ring),
        sym AS (
          SELECT src, dst FROM e2 WHERE src <> dst
          UNION
          SELECT dst, src FROM e2 WHERE src <> dst),
        und AS (SELECT src AS u, dst AS v FROM sym WHERE src < dst),
        support AS (
          SELECT a.src AS u, b.src AS v, count(*) AS s
          FROM sym a JOIN sym b ON a.dst = b.dst AND a.src < b.src
          GROUP BY 1, 2),
        strong AS (
          SELECT und.u, und.v FROM und JOIN support USING (u, v)
          WHERE s >= 1),
        sedges AS (
          SELECT u AS x, v AS y FROM strong
          UNION
          SELECT v, u FROM strong),
        walk(node, lbl) AS (
          SELECT x, x FROM sedges
          UNION
          SELECT e2.y, w.lbl FROM walk w JOIN sedges e2 ON e2.x = w.node),
        comp AS (SELECT node, min(lbl) AS community FROM walk GROUP BY node),
        nodes AS (SELECT DISTINCT src AS node FROM sym),
        asg AS (
          SELECT n.node, coalesce(c.community, n.node) AS community
          FROM nodes n LEFT JOIN comp c ON c.node = n.node)
        SELECT a.node AS domain, a.community,
               CAST(s2.cs AS BIGINT) AS community_size
        FROM asg a JOIN (
          SELECT community, count(*) AS cs FROM asg GROUP BY 1) s2
          USING (community)
    """
    )


def _truss_capped_sql() -> str:
    """Mirror of q_text_communities_capped: the truss mirror's edge set
    plus the planted hub, then the md5-ranked both-endpoints-keep cap
    (cap_degree's exact spec — row_number over md5(src‖'|'‖dst), keep
    rank ≤ 17, an edge survives iff kept in BOTH directions) before the
    same support/strong/min-label walk."""
    return (
        "\n        WITH RECURSIVE " + _link_edges_ctes() + r""",
        ring AS (
          SELECT printf('farm%d.biz', i) AS src,
                 printf('farm%d.biz', (i + 1) % 7) AS dst FROM range(7) t(i)
          UNION ALL
          SELECT printf('farm%d.biz', i), printf('farm%d.biz', (i + 2) % 7)
          FROM range(7) t(i)
          UNION ALL
          SELECT printf('mirror%d.net', i), printf('mirror%d.net', (i + 1) % 5)
          FROM range(5) t(i)
          UNION ALL
          SELECT printf('mirror%d.net', i), printf('mirror%d.net', (i + 2) % 5)
          FROM range(5) t(i)),
        hub AS (
          SELECT 'hub0.portal' AS src, printf('site%d.com', i) AS dst
          FROM range(17) t(i)
          UNION ALL
          SELECT 'hub0.portal', printf('farm%d.biz', i) FROM range(7) t(i)
          UNION ALL
          SELECT 'hub0.portal', printf('mirror%d.net', i) FROM range(5) t(i)),
        e2 AS (
          SELECT src, dst FROM e
          UNION ALL SELECT src, dst FROM ring
          UNION ALL SELECT src, dst FROM hub),
        sym0 AS (
          SELECT src, dst FROM e2 WHERE src <> dst
          UNION
          SELECT dst, src FROM e2 WHERE src <> dst),
        kept AS (
          SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (
                     PARTITION BY src ORDER BY md5(src || '|' || dst)
                   ) AS rk
            FROM sym0) WHERE rk <= 17),
        sym AS (
          SELECT k.src, k.dst
          FROM kept k JOIN kept r2 ON r2.src = k.dst AND r2.dst = k.src),
        und AS (SELECT src AS u, dst AS v FROM sym WHERE src < dst),
        support AS (
          SELECT a.src AS u, b.src AS v, count(*) AS s
          FROM sym a JOIN sym b ON a.dst = b.dst AND a.src < b.src
          GROUP BY 1, 2),
        strong AS (
          SELECT und.u, und.v FROM und JOIN support USING (u, v)
          WHERE s >= 1),
        sedges AS (
          SELECT u AS x, v AS y FROM strong
          UNION
          SELECT v, u FROM strong),
        walk(node, lbl) AS (
          SELECT x, x FROM sedges
          UNION
          SELECT e3.y, w.lbl FROM walk w JOIN sedges e3 ON e3.x = w.node),
        comp AS (SELECT node, min(lbl) AS community FROM walk GROUP BY node),
        nodes AS (SELECT DISTINCT src AS node FROM sym),
        asg AS (
          SELECT n.node, coalesce(c.community, n.node) AS community
          FROM nodes n LEFT JOIN comp c ON c.node = n.node)
        SELECT a.node AS domain, a.community,
               CAST(s2.cs AS BIGINT) AS community_size
        FROM asg a JOIN (
          SELECT community, count(*) AS cs FROM asg GROUP BY 1) s2
          USING (community)
    """
    )


_TRUSS_SQL = _truss_sql()

_TRUSS_CAPPED_SQL = _truss_capped_sql()

_PAGERANK_SQL = _pagerank_sql()

_PAGERANK_RD_SQL = _pagerank_rd_sql()

_PAGERANK_DAG_SQL = _pagerank_dag_sql()

# The dedup twins splice one SQL fragment per operator kernel
# (operators/dedup.py): the bucket cap, the ordered candidate join, the
# exact Hamming distance, and the MinHash-LSH chain from shingles through
# verified pairs.


def _cap_sql(part: str, cap: int) -> str:
    """The mega-bucket cap as a QUALIFY tail (mirror of dedup._cap): every
    row of a ``part`` bucket holding more than ``cap`` rows is dropped."""
    return f"QUALIFY count(*) OVER (PARTITION BY {part}) <= {cap}"


def _cand_sql(rel: str, on: str, fp: str | None = None) -> str:
    """Distinct candidate pairs id_a < id_b of ``rel`` rows (key, …)
    sharing ``on`` (mirror of dedup._candidates), each side's ``fp`` as
    fp_a/fp_b when given."""
    fps = "" if fp is None else f", a.{fp} AS fp_a, b.{fp} AS fp_b"
    return f"""
          SELECT DISTINCT a.key AS id_a, b.key AS id_b{fps}
          FROM {rel} a JOIN {rel} b USING ({on})
          WHERE a.key < b.key"""


def _hamming_sql(a: str = "a.fp", b: str = "b.fp", bits: int = 64) -> str:
    """The Hamming distance of two ``bits``-bit strings (mirror of
    dedup._hamming_within)."""
    return (
        f"list_sum(list_transform(range(1, {bits} + 1), i -> CASE WHEN "
        f"substring({a}, CAST(i AS INT), 1) <> "
        f"substring({b}, CAST(i AS INT), 1) THEN 1 ELSE 0 END))"
    )


_JACCARD = (
    "CAST(length(list_intersect({a}, {b})) AS DOUBLE)"
    " / CAST(length(list_distinct(list_concat({a}, {b}))) AS DOUBLE)"
)

_A = "CAST(('0x' || substring(md5(s), 1, 12)) AS BIGINT)"
_B = "CAST(('0x' || substring(md5(s), 13, 12)) AS BIGINT)"

# minhash signature entry i: min over shingles of (a + i*b), a/b = 48-bit
# halves of md5(shingle) — mirrors operators/dedup.py:minhash_signature;
# the NUM_HASHES entries as the list body of ``sig``
_SIG_MINS = ", ".join(
    f"list_min(list_transform(sh, s -> {_A} + {i} * {_B}))"
    for i in range(NUM_HASHES)
)
# one 'b|v1|v2|..' key per band over ``sig`` (DuckDB lists are 1-based:
# Spark sig[b*rows+r] → sig[b*rows+r+1]), as the list body of band_key
_BAND_KEYS = ", ".join(
    f"'{b}|' || "
    + " || '|' || ".join(
        f"sig[{b * (NUM_HASHES // BANDS) + r + 1}]"
        for r in range(NUM_HASHES // BANDS)
    )
    for b in range(BANDS)
)


def _sigs_ctes(src: str, p: str = "") -> str:
    """``{p}sigs`` (doc_id, sh, sig): the distinct word SHINGLE_K-shingles
    of ``src``'s text and their MinHash signature."""
    km1 = SHINGLE_K - 1
    return f"""{p}shingled AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(length(string_split_regex(trim(text), '\\s+')) - {km1}, 1) + 1),
                   i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+{km1}], ' ')
                 )) AS sh
          FROM {src}),
        {p}sigs AS (SELECT doc_id, sh, [{_SIG_MINS}] AS sig FROM {p}shingled)"""


def _verify_sql(cand: str, sigs: str) -> str:
    """Candidate pairs of ``cand`` scored by the shingle Jaccard of their
    ``sigs`` rows, kept when the 6-dp rounded score is ≥ LSH_THRESHOLD
    (mirror of dedup._jaccard_verified)."""
    jac = _JACCARD.format(a="sh_a", b="sh_b")
    return f"""
          SELECT id_a, id_b, round({jac}, 6) AS jaccard_sim
          FROM (SELECT c.id_a, c.id_b, sa.sh AS sh_a, sb.sh AS sh_b
                FROM {cand} c
                JOIN {sigs} sa ON sa.doc_id = c.id_a
                JOIN {sigs} sb ON sb.doc_id = c.id_b)
          WHERE round({jac}, 6) >= {LSH_THRESHOLD}"""


def _lsh_ctes(src: str, p: str = "") -> str:
    """MinHash-LSH over ``src`` (doc_id, text) — mirror of
    dedup.minhash_lsh_dedup: signatures in ``{p}sigs``, capped band
    postings in ``{p}banded``, candidates in ``{p}cand``, and the verified
    pairs (id_a < id_b, jaccard_sim) in ``{p}pairs``."""
    return f"""{_sigs_ctes(src, p)},
        {p}banded0 AS (
          SELECT doc_id AS key, unnest([{_BAND_KEYS}]) AS band_key
          FROM {p}sigs),
        {p}banded AS (
          SELECT key, band_key FROM {p}banded0
          {_cap_sql("band_key", LSH_MAX_BUCKET)}),
        {p}cand AS ({_cand_sql(f"{p}banded", "band_key")}),
        {p}pairs AS ({_verify_sql(f"{p}cand", f"{p}sigs")})"""


def _minhash_oracle() -> str:
    return f"""
        WITH {_lsh_ctes("documents")}
        SELECT id_a, id_b, jaccard_sim FROM pairs
    """


def _scored_ingest_oracle() -> str:
    """Batch twin of streaming/windows.py:stream_scored_ingest's drained
    pair table: quality gate → ppl gate (full-table English reference,
    tail dropped) over the WHOLE documents table, then the standard
    capped MinHash-LSH pair set over exactly the surviving docs — what
    the gated micro-batch ingestion converges to for any batch split."""
    return f"""
        WITH{_quality_ctes("documents")}
        g1 AS MATERIALIZED (
          SELECT d.doc_id, d.text FROM documents d
          JOIN qd USING (doc_id) WHERE qd.reasons = ''),{_ppl_gate_ctes("g1", "sv")}
        {_lsh_ctes("sv")}
        SELECT id_a, id_b, jaccard_sim FROM pairs
    """


def _minhash_salvage_oracle() -> str:
    """Mirror of minhash_lsh_dedup(salvage_depth=SALVAGE_DEPTH): the
    single-phase formulation — every (doc, band) generates its full
    chain of depth-extended keys, counts run per key over all depths,
    and each (doc, band) is accepted at its chain's FIRST fitting depth.
    Equivalent to the operator's two-phase plan because bucket
    membership at depth d is confined to one depth-0 bucket (see
    _banded_signatures)."""
    cap = SALVAGE_MAX_BUCKET
    rows = NUM_HASHES // BANDS
    entries = []
    for b in range(BANDS):
        base = [f"sig[{b * rows + r + 1}]" for r in range(rows)]
        for d in range(SALVAGE_DEPTH + 1):
            ext = [
                f"sig[{(b * rows + rows + j) % NUM_HASHES + 1}]"
                for j in range(d)
            ]
            key = f"'{b}|' || " + " || '|' || ".join(base + ext)
            entries.append(
                f"struct_pack(b := {b}, d := {d}, k := {key})"
            )
    return f"""
        WITH {_sigs_ctes("documents")},
        lv AS (
          SELECT doc_id AS key, unnest([{", ".join(entries)}]) AS e
          FROM sigs),
        rw AS (SELECT key, e.b AS b, e.d AS d, e.k AS k FROM lv),
        sz AS (SELECT k, count(*) AS n FROM rw GROUP BY k),
        fit AS (
          SELECT rw.key, rw.b, rw.d, rw.k
          FROM rw JOIN sz USING (k) WHERE sz.n <= {cap}),
        acc AS (
          SELECT key, b, (min(struct_pack(d := d, k := k))).k AS band_key
          FROM fit GROUP BY key, b),
        cand AS ({_cand_sql("acc", "band_key")})
        {_verify_sql("cand", "sigs")}
    """


def _fuzzy_decontam_oracle() -> str:
    """Mirror of fuzzy_decontaminate: full-corpus LSH pairs over the
    union of the train split and the NEGATIVE-keyed eval split (the
    operator's delta-vs-corpus run equals that set restricted to pairs
    involving a delta doc — eval keys are all negative, so a train×eval
    pair always orders (eval, train)), grouped per train doc."""
    return f"""
        WITH src AS (
          SELECT CASE WHEN doc_id % {DECONTAM_MODULUS} = 0
                      THEN -doc_id - 1 ELSE doc_id END AS doc_id, text
          FROM documents),
        {_lsh_ctes("src")}
        SELECT id_b AS doc_id,
               count(*) AS n_eval_matches,
               max(jaccard_sim) AS max_jaccard
        FROM pairs
        WHERE id_a < 0 AND id_b >= 0
        GROUP BY id_b
    """


def _simhash_fp_cte(bits: int = 32) -> str:
    """Shared toks+fp CTE body — bit j of token t:
    (hexdigit(md5(t))[j//4] >> (3 - j%4)) & 1 → ±1."""
    return f"""toks AS (
          SELECT doc_id,
                 list_distinct(string_split_regex(trim(text), '\\s+')) AS tk
          FROM documents),
        fp AS (
          SELECT doc_id,
                 array_to_string(list_transform(range(0, {bits}), j ->
                   CASE WHEN list_sum(list_transform(tk, t ->
                     CASE WHEN CAST(floor(
                       CAST(strpos('0123456789abcdef',
                            substring(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1 AS DOUBLE)
                       / power(2.0, CAST(3 - j % 4 AS DOUBLE))) AS INT) % 2 = 1
                     THEN 1 ELSE -1 END)) > 0
                   THEN '1' ELSE '0' END), '') AS simhash
          FROM toks)"""


def _simhash_oracle(bits: int = 32) -> str:
    return f"""
        WITH {_simhash_fp_cte(bits)}
        SELECT simhash, CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_docs
        FROM fp GROUP BY simhash HAVING count(*) > 1
    """


def _simhash_near_dup_oracle(
    bits: int = 32, radius: int = 1, max_bucket: int = 1000
) -> str:
    hamming = _hamming_sql("fp_a", "fp_b", bits)
    return f"""
        WITH {_simhash_fp_cte(bits)},
        posted0 AS (
          SELECT doc_id AS key, simhash,
                 unnest([simhash, {_flips_sql(bits, "simhash")}]) AS probe
          FROM fp),
        posted AS (
          SELECT key, simhash, probe FROM posted0
          {_cap_sql("probe", max_bucket)}),
        cand AS ({_cand_sql("posted", "probe", "simhash")})
        SELECT id_a, id_b, CAST({hamming} AS INT) AS hamming_dist
        FROM cand WHERE {hamming} <= {radius}
    """


_COSINE = """
  CASE WHEN sqrt(list_sum(list_transform({a}, x -> x * x))) > 0
        AND sqrt(list_sum(list_transform({b}, x -> x * x))) > 0
       THEN list_sum(list_transform(range(1, length({a}) + 1), i -> {a}[i] * {b}[i]))
            / (sqrt(list_sum(list_transform({a}, x -> x * x)))
               * sqrt(list_sum(list_transform({b}, x -> x * x))))
       ELSE 0.0 END
"""


def _rank_sql(
    src: str, score: str = "cosine_sim", order: str = "DESC", k: int = 5
) -> str:
    """The rank tail every ANN twin ends with (mirror of
    annsearch._top_k): per query, the top ``k`` rows of ``src`` by
    ``score`` in ``order``, ties → lowest corpus id, ``rank`` as INT."""
    return f"""
        ranked AS (
          SELECT query_id, corpus_id, {score},
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY {score} {order}, corpus_id ASC) AS rn
          FROM {src})
        SELECT query_id, corpus_id, {score}, CAST(rn AS INT) AS "rank"
        FROM ranked WHERE rn <= {k}
    """


def _pairs_sql(frm: str, score: str | None = None, k: int = 5) -> str:
    """Candidate pairs, then the rank tail (mirror of annsearch._pairs):
    the corpus side ``c`` (corpus_id, …) and the query side ``q``
    (query_id, …) joined as ``frm``, self-matches dropped, scored by
    ``score`` — by default the rounded float cosine of ``c.cv`` and
    ``q.qv``."""
    if score is None:
        score = f"round({_COSINE.format(a='c.cv', b='q.qv')}, 6)"
    return f"""
        scored AS (
          SELECT q.query_id, c.corpus_id, {score} AS cosine_sim
          FROM {frm}
          WHERE c.corpus_id <> q.query_id),{_rank_sql("scored", k=k)}"""


def _float_sides_sql(eligible: str = "") -> str:
    """Float sides: corpus ``c`` (corpus_id, label, cv) — restricted by
    the ``eligible`` join when given — and the five queries ``q``
    (query_id, qv)."""
    return f"""
        c AS (
          SELECT e.vec_id AS corpus_id, e.label,
                 list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS cv
          FROM embeddings e {eligible}),
        q AS (
          SELECT vec_id AS query_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id < 5),"""


def _ivf_route_ctes(n_probes: int, keep: tuple[str, ...] = ()) -> str:
    """The IVF router over the query CTE ``q`` (mirror of
    annsearch._route): deterministic lowest-key centroids ``cents``; in
    ``probe``, each query's ``n_probes`` most cosine-similar (rounded)
    centroids, ties → lowest cluster_id, carrying ``keep``."""
    return f"""
        cents AS (
          SELECT label AS cluster_id,
                 arg_min(list_transform(embedding, x -> CAST(x AS DOUBLE)), vec_id) AS centroid
          FROM embeddings GROUP BY label),
        routed AS (
          SELECT q.query_id{"".join(f", q.{c}" for c in keep)}, c.cluster_id,
                 row_number() OVER (PARTITION BY q.query_id
                                    ORDER BY round({_COSINE.format(a="q.qv", b="c.centroid")}, 6) DESC,
                                             c.cluster_id ASC) AS rn
          FROM q CROSS JOIN cents c),
        probe AS (
          SELECT query_id{"".join(f", {c}" for c in keep)}, cluster_id
          FROM routed WHERE rn <= {n_probes}),"""


def _plane_dot_sql(v: str, plane: list[int]) -> str:
    """``v`` · a literal ±1 plane (mirror of annsearch._plane_dot)."""
    lit = ", ".join(f"{float(w):.1f}" for w in plane)
    return (
        f"list_sum(list_transform(range(1, {len(plane) + 1}),"
        f" i -> {v}[i] * ([{lit}])[i]))"
    )


def _rh_sig_sql(v: str, planes: list[list[int]]) -> str:
    """Sign-bit signature of ``v`` (mirror of annsearch.rh_signature)."""
    return " || ".join(
        f"CASE WHEN {_plane_dot_sql(v, p)} > 0 THEN '1' ELSE '0' END"
        for p in planes
    )


def _flips_sql(bits: int, sig: str = "sig") -> str:
    """``sig``'s ``bits`` Hamming-1 neighbours, one bit flipped each
    (mirror of annsearch._flip_bits)."""
    return ", ".join(
        f"substr({sig}, 1, {j}) || (CASE WHEN substr({sig}, {j + 1}, 1) = '1'"
        f" THEN '0' ELSE '1' END) || substr({sig}, {j + 2})"
        for j in range(bits)
    )


def _jl_project_oracle(out_dim: int = 16, dim: int = 64) -> str:
    """Mirror of q_ann_project_topk: the identical ±1 planes as literal
    arrays, per-component round(·, 6), exact cosine in projected space."""
    from ..operators.annsearch import rh_planes

    comps = ", ".join(
        f"round({_plane_dot_sql('v', p)}, 6)" for p in rh_planes(out_dim, dim)
    )
    return f"""
        WITH c0 AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        c AS (SELECT vec_id AS corpus_id, [{comps}] AS cv FROM c0),
        q AS (SELECT corpus_id AS query_id, cv AS qv FROM c
              WHERE corpus_id < 5),{_pairs_sql("c CROSS JOIN q")}"""


def _rh_oracle(multiprobe: bool, num_planes: int = 8, dim: int = 64) -> str:
    """Mirror of q_ann_rh_lsh_topk / q_ann_rh_multiprobe_topk: the same
    md5-derived planes; each query probes its own signature bucket and,
    multi-probe, every Hamming-1 bucket."""
    from ..operators.annsearch import rh_planes

    planes = rh_planes(num_planes, dim)
    probes = f"sig, {_flips_sql(num_planes)}" if multiprobe else "sig"
    return f"""
        WITH{_float_sides_sql()}
        cs AS (SELECT corpus_id, cv, {_rh_sig_sql("cv", planes)} AS sig FROM c),
        qs AS (SELECT query_id, qv, {_rh_sig_sql("qv", planes)} AS sig FROM q),
        qp AS (SELECT query_id, qv, unnest([{probes}]) AS sig FROM qs),{
            _pairs_sql("cs c JOIN qp q USING (sig)")}"""


def _ivf_oracle(n_probes: int = 1, lang: str | None = None) -> str:
    """Mirror of q_ann_ivf_topk / q_ann_ivf_multiprobe_topk and, with
    ``lang``, q_ann_filtered_topk: the eligibility join keeps only
    ``lang`` posting-list members BEFORE the rank window, while the
    centroids still derive from the FULL corpus (shared-index routing)."""
    eligible = (
        f"JOIN documents d ON d.doc_id = e.vec_id AND d.lang = '{lang}'"
        if lang else ""
    )
    return f"""
        WITH{_float_sides_sql(eligible)}{_ivf_route_ctes(n_probes, ("qv",))}{
            _pairs_sql("c JOIN probe q ON c.label = q.cluster_id")}"""


def _sq_oracle(n_probes: int | None = None, dim: int = 64) -> str:
    """Mirror of q_ann_sq_topk and, with ``n_probes``, q_ann_ivfsq_topk
    (the IVF router with SQ8 scoring inside the probed lists): identical
    floor-half-up int8 codes, integer dot products, one final division."""
    score = f"""CASE WHEN c.cn2 > 0 AND q.qn2 > 0
                      THEN round(list_sum(list_transform(range(1, {dim + 1}),
                                   i -> CAST(c.cc[i] * q.qc[i] AS BIGINT)))
                           / sqrt(CAST(c.cn2 AS DOUBLE)
                                  * CAST(q.qn2 AS DOUBLE)), 6)
                      ELSE 0.0 END"""
    route, frm = "", "c CROSS JOIN q"
    if n_probes:
        route = _ivf_route_ctes(n_probes, ("qc", "qn2"))
        frm = "c JOIN probe q ON c.label = q.cluster_id"
    return f"""
        WITH raw AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        sc AS (
          SELECT vec_id, label, v,
                 list_max(list_transform(v, x -> abs(x))) AS s
          FROM raw),
        enc AS (
          SELECT vec_id, label, v,
                 CASE WHEN s > 0 THEN list_transform(v, x ->
                        CAST(floor(x / s * 127 + 0.5) AS INT))
                      ELSE list_transform(v, x -> 0) END AS codes
          FROM sc),
        e AS (
          SELECT vec_id, label, v, codes,
                 list_sum(list_transform(codes, c -> CAST(c * c AS BIGINT))) AS n2
          FROM enc),
        c AS (SELECT vec_id AS corpus_id, label, codes AS cc, n2 AS cn2 FROM e),
        q AS (SELECT vec_id AS query_id, v AS qv, codes AS qc, n2 AS qn2 FROM e
              WHERE vec_id < 5),{route}{_pairs_sql(frm, score)}"""


def _pq_oracle(
    n_probes: int | None = None, m: int = 8, codes: int = 16, dim: int = 64
) -> str:
    """Mirror of q_ann_pq_topk and, with ``n_probes``, q_ann_ivfpq_topk —
    the PQ ADC pipeline restricted to the IVF-probed posting lists
    (routing changes candidate sets, never distances). Same seeds (the
    ``codes`` lowest keys), same per-subspace argmin via a (d, code)
    struct-min, same m-ordered fold of the partial distances — every
    double is produced by the identical expression in the identical
    order."""
    sub = dim // m
    l2 = (
        f"list_sum(list_transform(range(1, {sub + 1}),"
        " i -> (xv[i] - sv[i]) * (xv[i] - sv[i])))"
    )
    route, via, on_query = "", "", ""
    if n_probes:
        route = _ivf_route_ctes(n_probes)
        via = "JOIN c USING (vec_id) JOIN probe p ON p.cluster_id = c.label"
        on_query = "dt.query_id = p.query_id AND "
    return f"""
        WITH c AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),{route}
        seeds AS (
          SELECT v, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
          FROM c ORDER BY vec_id LIMIT {codes}),
        ms AS (SELECT CAST(unnest(range({m})) AS INT) AS m),
        cb AS (SELECT m, code, v[m*{sub}+1 : m*{sub}+{sub}] AS sv FROM seeds, ms),
        csub AS (SELECT vec_id, m, v[m*{sub}+1 : m*{sub}+{sub}] AS xv FROM c, ms),
        cenc AS (
          SELECT vec_id, m, (min(struct_pack(d := {l2}, c := code))).c AS code
          FROM csub JOIN cb USING (m) GROUP BY vec_id, m),
        qsub AS (SELECT query_id, m, qv[m*{sub}+1 : m*{sub}+{sub}] AS xv FROM q, ms),
        dt AS (SELECT query_id, m, code, {l2} AS d FROM qsub JOIN cb USING (m)),
        pairs AS (
          SELECT dt.query_id, cenc.vec_id AS corpus_id, dt.m, d
          FROM cenc {via}
          JOIN dt ON {on_query}dt.m = cenc.m AND dt.code = cenc.code
          WHERE cenc.vec_id <> dt.query_id),
        approx AS (
          SELECT query_id, corpus_id,
                 round(list_sum(list_transform(
                     list_sort(list(struct_pack(m := m, d := d))),
                     s -> s.d)), 6) AS approx_dist
          FROM pairs GROUP BY query_id, corpus_id),{
            _rank_sql("approx", "approx_dist", "ASC")}"""


# SemDeDup verdict SQL (mirrors operators/dedup.py:semantic_dedup):
# deterministic lowest-key centroids, highest-(csim, cluster_id)
# assignment, (centroid_sim ASC, key ASC) in-cluster rank, dropped iff an
# earlier-ranked member is >= 0.3-similar. Shared by the full-corpus
# member and (restricted to the delta split) the incremental member.
_SEMANTIC_SQL = f"""
    WITH cents AS (
      SELECT label AS cluster_id,
             arg_min(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                     vec_id) AS centroid
      FROM embeddings GROUP BY label),
    v AS (
      SELECT vec_id AS key,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings),
    scored AS (
      SELECT v.key, v.cv, c.cluster_id,
             round({_COSINE.format(a="v.cv", b="c.centroid")}, 6) AS csim
      FROM v CROSS JOIN cents c),
    assigned AS (
      SELECT key, cv, cluster_id, csim AS centroid_sim
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY key
                                 ORDER BY csim DESC, cluster_id DESC) = 1),
    ranked AS (
      SELECT key, cv, cluster_id, centroid_sim,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY centroid_sim ASC, key ASC) AS rnk
      FROM assigned),
    dups AS (
      SELECT DISTINCT b.key
      FROM ranked a JOIN ranked b
        ON a.cluster_id = b.cluster_id AND a.rnk < b.rnk
      WHERE round({_COSINE.format(a="a.cv", b="b.cv")}, 6) >= 0.3)
    SELECT r.key AS vec_id, r.cluster_id, r.centroid_sim,
           CAST(CASE WHEN d.key IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM ranked r LEFT JOIN dups d USING (key)
"""


def _semantic_routed_oracle(bits: int = 4, dim: int = 64) -> str:
    """DuckDB twin of the LSH-routed SemDeDup member: the same md5-derived
    hyperplanes regenerate the sign buckets (``_rh_sig_sql``, as _rh_oracle),
    the centroid side expands to own-signature + every one-bit flip, and
    verdict semantics run within the routed clustering. Unrouted vectors
    (no candidate centroid) carry NULL cluster and kept=1."""
    from ..operators.annsearch import rh_planes

    planes = rh_planes(bits, dim)
    return f"""
        WITH cents AS (
          SELECT label AS cluster_id,
                 arg_min(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                         vec_id) AS centroid
          FROM embeddings GROUP BY label),
        cs AS (
          SELECT cluster_id, centroid, {_rh_sig_sql("centroid", planes)} AS sig FROM cents),
        cp AS (
          SELECT cluster_id, centroid,
                 unnest(list_value(sig, {_flips_sql(bits)})) AS psig
          FROM cs),
        v AS (
          SELECT vec_id AS key,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
          FROM embeddings),
        vs AS (SELECT key, cv, {_rh_sig_sql("cv", planes)} AS sig FROM v),
        best AS (
          SELECT vs.key, cp.cluster_id,
                 round({_COSINE.format(a="vs.cv", b="cp.centroid")}, 6)
                   AS centroid_sim
          FROM vs JOIN cp ON vs.sig = cp.psig
          QUALIFY row_number() OVER (
            PARTITION BY vs.key
            ORDER BY round({_COSINE.format(a="vs.cv", b="cp.centroid")}, 6)
                       DESC,
                     cp.cluster_id DESC) = 1),
        assigned AS (
          SELECT v.key, v.cv, b.cluster_id, b.centroid_sim
          FROM v LEFT JOIN best b USING (key)),
        ranked AS (
          SELECT key, cv, cluster_id, centroid_sim,
                 row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY centroid_sim ASC, key ASC)
                   AS rnk
          FROM assigned WHERE cluster_id IS NOT NULL),
        dups AS (
          SELECT DISTINCT b.key
          FROM ranked a JOIN ranked b
            ON a.cluster_id = b.cluster_id AND a.rnk < b.rnk
          WHERE round({_COSINE.format(a="a.cv", b="b.cv")}, 6) >= 0.3)
        SELECT r.key AS vec_id, r.cluster_id, r.centroid_sim,
               CAST(CASE WHEN d.key IS NULL THEN 1 ELSE 0 END AS INT)
                 AS kept
        FROM assigned r LEFT JOIN dups d USING (key)
    """


# blocked unigram-Jaccard near-dup pairs (threshold 0.5, block cap 10000 —
# mirrors operators/dedup.py:ngram_jaccard_pairs)
_NGRAM_PAIRS_SQL = f"""
    WITH base AS (
      SELECT doc_id AS key, lang, source,
             list_distinct(string_split_regex(trim(text), '\\s+')) AS sh
      FROM documents
      {_cap_sql("lang, source", 10000)})
    SELECT a.key AS id_a, b.key AS id_b,
           round({_JACCARD.format(a="a.sh", b="b.sh")}, 6) AS score
    FROM base a JOIN base b USING (lang, source)
    WHERE a.key < b.key
      AND round({_JACCARD.format(a="a.sh", b="b.sh")}, 6) >= 0.5
"""

# connected components over the pair list: min reachable node id per
# endpoint via a recursive label walk (mirrors
# operators/dedup.py:connected_components at fixpoint)
_CLUSTERS_SQL = f"""
    WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs),
    walk(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
    comp AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node)
    SELECT node, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM comp
"""

# leakage-safe split: one md5 draw per CLUSTER id (mirrors
# operators/dedup.py:leakage_safe_split at eval_pct=25 — integer
# threshold, so both engines compare the same longs)
_SPLIT_EVAL_MAX = (25 * 16**8) // 100
_SPLIT_SQL = f"""
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           CASE WHEN CAST(('0x' || substring(md5(CAST(
                    coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 8))
                  AS BIGINT) < {_SPLIT_EVAL_MAX}
                THEN 'eval' ELSE 'train' END AS split
    FROM documents d
    LEFT JOIN ({_CLUSTERS_SQL}) c ON c.node = d.doc_id
"""


# DuckDB twins of the shared curation stages (_gate, _para, _neardup,
# _decontam, _mixture, _shard): CTE fragments from an input relation to
# an output relation, spliced into one ``WITH RECURSIVE`` statement per
# chain. Every stage output through decontam carries (doc_id, text,
# source, nt) — nt the whitespace-token count of its current text; the
# mixture output trades source for the subword count bt, and shard
# emits ``packed``. Each is MATERIALIZED, because _ledger_sql's scalar
# subqueries would otherwise re-inline it once per ledger cell.


def _quality_ctes(src: str) -> str:
    """The quality gate's verdict over ``src`` (mirror of
    text_quality_filter): ``qd`` (doc_id, n_tok, reasons), ``reasons``
    empty for a kept doc."""
    return f"""
        qt AS (
          SELECT doc_id,
                 text IS NULL AS is_null,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '') AS tk,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                   AS DOUBLE) AS punct,
                 CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                   AS DOUBLE) AS upper_c
          FROM {src}),
        qs AS (
          SELECT doc_id, is_null, tk, n_chars,
                 CAST(length(tk) AS BIGINT) AS n_tok,
                 CAST(length(tk) AS DOUBLE) AS n_tok_d,
                 CASE WHEN length(tk) >= 3
                      THEN list_transform(range(1, length(tk) - 1),
                             i -> array_to_string(tk[i:i+2], ' '))
                      ELSE [] END AS sh,
                 punct, upper_c
          FROM qt),
        qr AS (
          SELECT doc_id, is_null, n_tok,
                 CASE WHEN n_tok > 0
                      THEN round(CAST(list_sum(list_transform(tk,
                             x -> length(x))) AS DOUBLE) / n_tok_d, 6)
                      ELSE 0.0 END AS mean_word_len,
                 CASE WHEN n_chars > 0 THEN round(punct / n_chars, 6)
                      ELSE 0.0 END AS punct_ratio,
                 CASE WHEN n_chars > 0 THEN round(upper_c / n_chars, 6)
                      ELSE 0.0 END AS upper_ratio,
                 CASE WHEN n_tok > 0
                      THEN round((n_tok - length(list_distinct(tk)))
                                 / n_tok_d, 6)
                      ELSE 0.0 END AS dup_tok,
                 CASE WHEN length(sh) > 0
                      THEN round(CAST(length(sh) - length(list_distinct(sh))
                                 AS DOUBLE) / CAST(length(sh) AS DOUBLE), 6)
                      ELSE 0.0 END AS dup_sh,
                 CASE WHEN n_tok > 0
                      THEN round(CAST(length(list_filter(tk, x -> lower(x) IN
                             ('the','a','and','of','to','in','is','it')))
                             AS DOUBLE) / n_tok_d, 6)
                      ELSE 0.0 END AS stop_ratio
          FROM qs),
        qd AS (
          SELECT doc_id, n_tok,
                 CASE WHEN is_null THEN 'null_text' ELSE
                 concat_ws(',',
                   CASE WHEN n_tok < 30 THEN 'too_short' END,
                   CASE WHEN n_tok > 100000 THEN 'too_long' END,
                   CASE WHEN mean_word_len < 2.0 OR mean_word_len > 12.0
                        THEN 'word_len' END,
                   CASE WHEN punct_ratio > 0.2 THEN 'punct' END,
                   CASE WHEN upper_ratio > 0.3 THEN 'upper' END,
                   CASE WHEN dup_tok > 0.65 THEN 'rep_token' END,
                   CASE WHEN dup_sh > 0.35 THEN 'rep_shingle' END,
                   CASE WHEN stop_ratio < 0.01 THEN 'stopword' END
                 ) END AS reasons
          FROM qr),"""


def _gate_ctes(src: str, out: str) -> str:
    """Stage ``gate`` (mirror of text_quality_filter) over ``src``,
    kept docs in ``out``, plus the BPE count relations: ``bfin`` (the
    segmentation of ``out``'s lowercased vocabulary) and ``bpe1``
    (doc_id → subword count of ``out``)."""
    return f"""        -- stage gate: quality filter (mirror of text_quality_filter){
            _quality_ctes(src)}
        {out} AS MATERIALIZED (
          SELECT t.doc_id, t.text, t.source, q.n_tok AS nt
          FROM {src} t JOIN qd q USING (doc_id) WHERE q.reasons = ''),
        -- BPE subword counts (ledger bpe_tokens_out): segmentation over
        -- the kept docs' lowercased vocabulary — rewritten text (stage
        -- para onward) only removes whole segments, so its words are a
        -- subset of these
        occ1 AS MATERIALIZED (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(trim(lower(text)), '\\s+'),
            x -> x <> '')) AS word
          FROM {out}),
        bv AS (SELECT DISTINCT word FROM occ1),
        {_bpe_seg_ctes("bv", "b")},
        bpe1 AS MATERIALIZED (
          SELECT doc_id, sum(nseg) AS bt
          FROM occ1 JOIN bfin USING (word) GROUP BY doc_id),"""


def _para_ctes(src: str, out: str) -> str:
    """Stage ``para`` (mirror of text_paragraph_dedup) over ``src``: each
    doc rewritten to its surviving segments in ``out`` (empty rewrites
    dropped), ``bpe2`` its subword counts from _gate_ctes' ``bfin``."""
    sw = CURATION_SEG_WORDS
    return f"""        -- stage para: paragraph dedup, rewritten text
        pt AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
          FROM {src}),
        sp AS (
          SELECT doc_id, tk,
                 unnest(range(0, greatest(
                   CAST(ceil(length(tk) / {sw}.0) AS INT), 1))) AS pos
          FROM pt),
        segd AS (
          SELECT doc_id, CAST(pos AS INT) AS pos,
                 array_to_string(tk[CAST(pos * {sw} + 1 AS INT):
                                    CAST(pos * {sw} + {sw} AS INT)], ' ') AS seg
          FROM sp),
        dup AS (
          SELECT md5(seg) AS h FROM segd
          GROUP BY md5(seg) HAVING count(DISTINCT doc_id) >= 2),
        fl AS (
          SELECT s.doc_id, s.pos, s.seg, (d.h IS NOT NULL) AS is_dup
          FROM segd s LEFT JOIN dup d ON md5(s.seg) = d.h),
        prw AS (
          SELECT doc_id,
                 string_agg(CASE WHEN NOT is_dup THEN seg END,
                            ' ' ORDER BY pos) AS text
          FROM fl GROUP BY doc_id),
        {out} AS MATERIALIZED (
          SELECT t.doc_id, t.text, c.source,
                 CAST(length(list_filter(
                   string_split_regex(trim(t.text), '\\s+'),
                   x -> x <> '')) AS BIGINT) AS nt
          FROM prw t JOIN {src} c USING (doc_id)
          WHERE t.text IS NOT NULL AND t.text <> ''),
        bpe2 AS MATERIALIZED (
          SELECT doc_id, sum(nseg) AS bt
          FROM (SELECT doc_id, unnest(list_filter(
                  string_split_regex(trim(lower(text)), '\\s+'),
                  x -> x <> '')) AS word
                FROM {out}) o2
          JOIN bfin USING (word) GROUP BY doc_id),"""


def _neardup_ctes(src: str, out: str) -> str:
    """Stage ``neardup`` over ``src``: MinHash-LSH pairs (the
    ``_lsh_ctes`` fragment, prefixed ``m``), the CC label walk,
    keep-one-per-cluster into ``out``. Needs the statement to be
    ``WITH RECURSIVE``."""
    return f"""        -- stage neardup: MinHash-LSH pairs, CC label walk,
        -- keep-one-per-cluster
        {_lsh_ctes(src, "m")},
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM mpairs
          UNION
          SELECT id_b AS src, id_a AS dst FROM mpairs),
        walk(node, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
        comp AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node),
        {out} AS MATERIALIZED (
          SELECT c.doc_id, c.text, c.source, c.nt
          FROM {src} c LEFT JOIN comp ON comp.node = c.doc_id
          WHERE comp.node IS NULL OR c.doc_id = comp.cluster_id),"""


def _decontam_ctes(src: str, out: str) -> str:
    """Stage ``decontam`` (mirror of decontaminate): ``src`` minus the
    docs sharing a DECONTAM_NGRAM_K-word shingle with the ORIGINAL eval
    split, in ``out``."""
    dk = DECONTAM_NGRAM_K - 1
    grams = (
        "list_distinct(list_transform("
        f"range(1, greatest(length(tk) - {dk}, 1) + 1),"
        f" i -> array_to_string(tk[CAST(i AS INT):CAST(i + {dk} AS INT)], ' ')))"
    )
    return f"""        -- stage decontam: exact n-gram decontamination vs the
        -- ORIGINAL eval text
        evg AS (
          SELECT DISTINCT md5(g) AS h FROM (
            SELECT unnest({grams}) AS g
            FROM (SELECT string_split_regex(trim(text), '\\s+') AS tk
                  FROM documents WHERE doc_id % {DECONTAM_MODULUS} = 0))),
        dg AS (
          SELECT doc_id, md5(g) AS h FROM (
            SELECT doc_id, unnest({grams}) AS g
            FROM (SELECT doc_id,
                         string_split_regex(trim(text), '\\s+') AS tk
                  FROM {src}))),
        dhits AS (SELECT DISTINCT dg.doc_id FROM dg JOIN evg USING (h)),
        {out} AS MATERIALIZED (
          SELECT * FROM {src}
          WHERE doc_id NOT IN (SELECT doc_id FROM dhits)),"""


def _mixture_ctes(src: str, out: str, budget: int, unit: str) -> str:
    """Stage ``mixture`` (mirror of mixture_sample): ``src``'s docs, with
    their ``bpe2`` subword counts ``bt``, resampled by source toward
    CURATION_MIX_WEIGHTS within ``budget`` tokens counted in ``unit``
    (``nt`` whitespace, ``bt`` subword), in ``out`` (doc_id, text, nt,
    bt). The per-source targets are computed in PYTHON exactly as
    mixture_sample builds its literal (float(budget) * (w / total_w)) —
    recomputing the product in SQL could differ by one ulp and flip a
    boundary accept."""
    total_w = sum(CURATION_MIX_WEIGHTS.values())
    w_case = " ".join(
        f"WHEN '{k}' THEN {float(budget) * (v / total_w)!r}"
        for k, v in sorted(CURATION_MIX_WEIGHTS.items())
    )
    in_list = ", ".join(f"'{k}'" for k in sorted(CURATION_MIX_WEIGHTS))
    return f"""        -- stage mixture: resample by source within the budget
        mix AS (
          SELECT s.doc_id, s.text, s.source, s.nt, b.bt
          FROM {src} s JOIN bpe2 b USING (doc_id)),
        mcur AS (SELECT source, CAST(sum({unit}) AS BIGINT) AS c
                 FROM mix GROUP BY source),
        mrate AS (
          SELECT source,
                 CASE WHEN c > 0
                      THEN least(1.0,
                        (CASE source {w_case} END) / CAST(c AS DOUBLE))
                      ELSE 1.0 END AS accept_rate
          FROM mcur WHERE source IN ({in_list})),
        {out} AS MATERIALIZED (
          SELECT mix.doc_id, mix.text, mix.nt, mix.bt
          FROM mix JOIN mrate USING (source)
          WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) < accept_rate * 4294967296.0),"""


def _shard_ctes(
    src: str, shard_tokens: int,
    tokens: str = "length(string_split_regex(trim(text), '\\s+'))",
) -> str:
    """Stage ``shard`` (mirror of pack_shards): ``src``'s docs in key
    order packed into ~``shard_tokens``-token shards by the exclusive
    running total of ``tokens``, in ``packed`` (key, n_tokens,
    shard_id). The chain's last CTE: no trailing comma."""
    return f"""        -- stage shard: token-budget shard packing
        ptok AS (
          SELECT CAST(doc_id AS BIGINT) AS key,
                 CAST({tokens} AS BIGINT) AS n_tokens
          FROM {src}),
        packed AS MATERIALIZED (
          SELECT key, n_tokens,
                 CAST(floor((sum(n_tokens) OVER (ORDER BY key
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_tokens) / {shard_tokens}.0) AS BIGINT)
                   AS shard_id
          FROM ptok)"""


def _bt_of(rel: str, counts: str = "bpe2") -> str:
    """A bpe_tokens_out cell body: the subword tokens of ``rel``'s docs."""
    return f"sum(bt) FROM {counts} WHERE doc_id IN (SELECT doc_id FROM {rel})"


def _ledger_sql(rows) -> str:
    """The curation twins' ledger: one ``UNION ALL`` branch per ``(stage,
    rel_in, n_out, tok, bpe)`` row, numbered from 1 — rows_in counts
    ``rel_in``; ``n_out``, ``tok`` and ``bpe`` are the scalar-subquery
    bodies of rows_out, tokens_out and bpe_tokens_out (token sums read 0
    on an empty stage)."""
    return "\n        UNION ALL\n".join(
        f"""        SELECT CAST({i} AS BIGINT) AS stage_no, '{stage}' AS stage,
               (SELECT count(*) FROM {rel_in}) AS rows_in,
               (SELECT {n_out}) AS rows_out,
               CAST(coalesce((SELECT {tok}), 0) AS BIGINT) AS tokens_out,
               CAST(coalesce((SELECT {bpe}), 0) AS BIGINT) AS bpe_tokens_out"""
        for i, (stage, rel_in, n_out, tok, bpe) in enumerate(rows, start=1)
    )


def _curation_sql() -> str:
    """DuckDB twin of q_curation_pipeline — the FULL six-stage chain in
    one statement, each stage mirroring its operator's member oracle
    expression-for-expression, emitting the same 6-row ledger. The value
    of this oracle is exactly the composition: a stage consuming the
    wrong intermediate, double-applying a filter, or recounting tokens
    on the wrong text shows up as a ledger mismatch even when every
    member oracle stays green."""
    ledger = _ledger_sql([
        ("gate", "tr", "count(*) FROM c1", "sum(nt) FROM c1",
         "sum(bt) FROM bpe1"),
        ("para", "c1", "count(*) FROM c2x", "sum(nt) FROM c2x",
         "sum(bt) FROM bpe2"),
        ("neardup", "c2x", "count(*) FROM c3", "sum(nt) FROM c3",
         _bt_of("c3")),
        ("decontam", "c3", "count(*) FROM c4", "sum(nt) FROM c4",
         _bt_of("c4")),
        ("mixture", "c4", "count(*) FROM c5", "sum(nt) FROM c5",
         "sum(bt) FROM c5"),
        ("shard", "c5", "count(DISTINCT shard_id) FROM packed",
         "sum(n_tokens) FROM packed", "sum(bt) FROM c5"),
    ])
    return f"""
        WITH RECURSIVE
        tr AS MATERIALIZED (
          SELECT doc_id, text, source FROM documents
          WHERE doc_id % {DECONTAM_MODULUS} <> 0),
{_gate_ctes("tr", "c1")}
{_para_ctes("c1", "c2x")}
{_neardup_ctes("c2x", "c3")}
{_decontam_ctes("c3", "c4")}
{_mixture_ctes("c4", "c5", CURATION_MIX_BUDGET, "nt")}
{_shard_ctes("c5", CURATION_SHARD_TOKENS)}
{ledger}
    """


def _curation_semantic_sql() -> str:
    """DuckDB twin of q_curation_semantic_pipeline — gate → para → LSH
    neardup (the _gate_ctes/_para_ctes/_neardup_ctes fragments
    _curation_sql splices too) → SemDeDup over the hash-projection
    encoding → shard, as one statement emitting the 5-row ledger. Stage 4 mirrors encode_documents + rh_signature +
    semantic_dedup in sparse ±1 integer vector math (dot products and
    norms are exact integers → identical doubles in any engine; the
    6-decimal rounds land on the same values the dense Spark side
    computes). Assignment tie-break mirrors max(struct(csim, label)):
    csim DESC, label DESC (binary string order in both engines)."""
    dim = CURATION_SEM_DIM
    bits = CURATION_SEM_BITS
    thr = CURATION_SEM_THRESHOLD
    zeros = "0" * bits
    ledger = _ledger_sql([
        ("gate", "tr", "count(*) FROM c1", "sum(nt) FROM c1",
         "sum(bt) FROM bpe1"),
        ("para", "c1", "count(*) FROM c2x", "sum(nt) FROM c2x",
         "sum(bt) FROM bpe2"),
        ("neardup", "c2x", "count(*) FROM c3", "sum(nt) FROM c3",
         _bt_of("c3")),
        ("semdedup", "c3", "count(*) FROM c4s", "sum(nt) FROM c4s",
         _bt_of("c4s")),
        ("shard", "c4s", "count(DISTINCT shard_id) FROM packed",
         "sum(n_tokens) FROM packed", _bt_of("c4s")),
    ])
    return f"""
        WITH RECURSIVE
        tr AS MATERIALIZED (
          SELECT doc_id, text, source FROM documents
          WHERE doc_id % {DECONTAM_MODULUS} <> 0),
{_gate_ctes("tr", "c1")}
{_para_ctes("c1", "c2x")}
{_neardup_ctes("c2x", "c3")}
        -- stage 4: SemDeDup over the encoded survivors (mirror of
        -- encode_documents + rh_signature + semantic_dedup)
        tok4 AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
          FROM c3),
        feat4 AS (
          SELECT doc_id,
                 CAST(('0x' || substring(md5(t), 1, 12)) AS BIGINT) % {dim}
                   AS b,
                 CASE WHEN CAST(('0x' || substring(md5(t), 13, 1)) AS BIGINT)
                           % 2 = 0
                      THEN 1 ELSE -1 END AS s
          FROM tok4 WHERE t <> ''),
        vec4 AS (
          SELECT doc_id, b, sum(s) AS val FROM feat4 GROUP BY 1, 2),
        nrm4 AS (
          SELECT c.doc_id,
                 coalesce(sqrt(CAST(sum(val * val) AS DOUBLE)), 0) AS n
          FROM c3 c LEFT JOIN vec4 USING (doc_id) GROUP BY 1),
        planes4 AS (
          SELECT CAST(t1.range AS BIGINT) AS p, CAST(t2.range AS BIGINT) AS d,
                 CASE WHEN CAST(('0x' || substring(md5(
                        CAST(t1.range AS VARCHAR) || ':'
                        || CAST(t2.range AS VARCHAR)), 1, 1)) AS BIGINT)
                      % 2 = 0
                      THEN 1 ELSE -1 END AS s
          FROM range({bits}) t1 CROSS JOIN range({dim}) t2),
        sigbits4 AS (
          SELECT v.doc_id, pl.p,
                 CASE WHEN sum(pl.s * v.val) > 0 THEN '1' ELSE '0' END AS bit
          FROM vec4 v JOIN planes4 pl ON pl.d = v.b
          GROUP BY v.doc_id, pl.p),
        sig4 AS (
          SELECT c.doc_id,
                 coalesce(string_agg(bit, '' ORDER BY p), '{zeros}') AS label
          FROM c3 c LEFT JOIN sigbits4 sb ON sb.doc_id = c.doc_id
          GROUP BY c.doc_id),
        cents4 AS (SELECT label, min(doc_id) AS cid FROM sig4 GROUP BY label),
        alldots AS (
          SELECT a.doc_id AS da, b.doc_id AS db,
                 CAST(sum(a.val * b.val) AS DOUBLE) AS dp
          FROM vec4 a JOIN vec4 b ON a.b = b.b GROUP BY 1, 2),
        csim4 AS (
          SELECT g.doc_id, c.label,
                 CASE WHEN dn.n > 0 AND cn.n > 0
                      THEN round(coalesce(ad.dp, 0) / (dn.n * cn.n), 6)
                      ELSE 0.0 END AS cs
          FROM sig4 g CROSS JOIN cents4 c
          LEFT JOIN alldots ad ON ad.da = g.doc_id AND ad.db = c.cid
          JOIN nrm4 dn ON dn.doc_id = g.doc_id
          JOIN nrm4 cn ON cn.doc_id = c.cid),
        assigned4 AS (
          SELECT doc_id, label, cs AS centroid_sim
          FROM csim4
          QUALIFY row_number() OVER (PARTITION BY doc_id
                                     ORDER BY cs DESC, label DESC) = 1),
        ranked4 AS (
          SELECT doc_id, label, centroid_sim,
                 row_number() OVER (PARTITION BY label
                                    ORDER BY centroid_sim ASC, doc_id ASC)
                   AS rnk
          FROM assigned4),
        dups4 AS (
          SELECT DISTINCT b.doc_id
          FROM ranked4 a JOIN ranked4 b
            ON a.label = b.label AND a.rnk < b.rnk
          JOIN nrm4 an ON an.doc_id = a.doc_id
          JOIN nrm4 bn ON bn.doc_id = b.doc_id
          LEFT JOIN alldots ad ON ad.da = a.doc_id AND ad.db = b.doc_id
          WHERE (CASE WHEN an.n > 0 AND bn.n > 0
                      THEN round(coalesce(ad.dp, 0) / (an.n * bn.n), 6)
                      ELSE 0.0 END) >= {thr}),
        c4s AS MATERIALIZED (
          SELECT * FROM c3
          WHERE doc_id NOT IN (SELECT doc_id FROM dups4)),
{_shard_ctes("c4s", CURATION_SHARD_TOKENS)}
{ledger}
    """


def _ppl_gate_ctes(src: str, out: str) -> str:
    """Perplexity gate (mirror of text_lm_perplexity's reference model):
    the hashed-bigram LM trained on the FULL-table English subset
    (``etoks``, …, ``pctxu``), ``src``'s docs scored in ``psc``, and
    ``src`` minus the tail bucket in ``out``."""
    return f"""
        etoks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             x -> x <> '') AS tk
          FROM documents WHERE lang = 'en'),
        ebg AS (
          SELECT CAST(('0x' || substring(md5(unnest(tk[1:len(tk)-1])), 1, 8))
                      AS BIGINT) % {LM_BUCKETS} AS h1,
                 CAST(('0x' || substring(md5(unnest(tk[2:len(tk)])), 1, 8))
                      AS BIGINT) % {LM_BUCKETS} AS h2
          FROM etoks),
        prb AS (SELECT h1, h2, count(*) AS b FROM ebg GROUP BY h1, h2),
        pctx AS (SELECT h1, sum(b) AS u FROM prb GROUP BY h1),
        pmodel AS (
          SELECT prb.h1, prb.h2,
                 CAST(round(-1000 * ln((b + 1.0) / (u + {LM_BUCKETS}.0)))
                      AS BIGINT) AS m
          FROM prb JOIN pctx USING (h1)),
        pctxu AS (
          SELECT h1,
                 CAST(round(-1000 * ln(1.0 / (u + {LM_BUCKETS}.0)))
                      AS BIGINT) AS mu
          FROM pctx),
        {src}bg AS (
          SELECT doc_id,
                 CAST(('0x' || substring(md5(unnest(tk[1:len(tk)-1])), 1, 8))
                      AS BIGINT) % {LM_BUCKETS} AS h1,
                 CAST(('0x' || substring(md5(unnest(tk[2:len(tk)])), 1, 8))
                      AS BIGINT) % {LM_BUCKETS} AS h2
          FROM (SELECT doc_id,
                       list_filter(
                         string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS tk
                FROM {src})),
        psc AS (
          SELECT {src}bg.doc_id, count(*) AS nb,
                 sum(COALESCE(m, mu,
                     CAST(round(1000 * ln({LM_BUCKETS}.0)) AS BIGINT)))
                   AS milli
          FROM {src}bg
          LEFT JOIN pmodel USING (h1, h2)
          LEFT JOIN pctxu USING (h1)
          GROUP BY {src}bg.doc_id),
        {out} AS MATERIALIZED (
          SELECT {src}.* FROM {src} LEFT JOIN psc USING (doc_id)
          WHERE psc.nb IS NULL OR psc.nb = 0
             OR CAST(psc.milli AS DOUBLE) / CAST(psc.nb * 1000 AS DOUBLE)
                <= {LM_TAIL_NLL}),"""


def _curation_scored_sql() -> str:
    """DuckDB twin of q_curation_scored_pipeline — the nine-stage SCORED
    chain in one statement. Each stage mirrors its operator's member
    oracle expression-for-expression (gate, para, LSH near-dup, decontam,
    mixture and shard are the CTE fragments the other curation twins
    splice, the fuzzy stage the ``_lsh_ctes`` chain; the ppl model, DSIR
    λ table and Gumbel perturbation restate their standalone member
    oracles), with the raw-side model relations re-pointed at the
    chain's intermediates (DSIR's raw distribution is the ppl-surviving
    corpus, not the full table) and the mixture/shard budgets computed
    over BPE subword counts. The value is the COMPOSITION: a scorer
    reading the wrong intermediate or a budget still summing whitespace
    counts shows up as a ledger mismatch while every member oracle stays
    green."""
    ledger = _ledger_sql([
        ("gate", "tr", "count(*) FROM c1", "sum(nt) FROM c1",
         "sum(bt) FROM bpe1"),
        ("ppl", "c1", "count(*) FROM c2", "sum(nt) FROM c2",
         _bt_of("c2", "bpe1")),
        ("dsirsel", "c2", "count(*) FROM c3", "sum(nt) FROM c3",
         _bt_of("c3", "bpe1")),
        ("para", "c3", "count(*) FROM c4x", "sum(nt) FROM c4x",
         "sum(bt) FROM bpe2"),
        ("neardup", "c4x", "count(*) FROM c5", "sum(nt) FROM c5",
         _bt_of("c5")),
        ("decontam", "c5", "count(*) FROM c6", "sum(nt) FROM c6",
         _bt_of("c6")),
        ("fdecontam", "c6", "count(*) FROM c7", "sum(nt) FROM c7",
         _bt_of("c7")),
        ("mixture", "c7", "count(*) FROM c8", "sum(nt) FROM c8",
         "sum(bt) FROM c8"),
        ("shard", "c8", "count(DISTINCT shard_id) FROM packed",
         "sum(nt) FROM c8", "sum(n_tokens) FROM packed"),
    ])
    return f"""
        WITH RECURSIVE
        tr AS MATERIALIZED (
          SELECT doc_id, text, source FROM documents
          WHERE doc_id % {DECONTAM_MODULUS} <> 0),
{_gate_ctes("tr", "c1")}
        -- stage 2: CCNet perplexity gate — hashed-bigram LM trained on
        -- the FULL-table English subset (the standalone ppl member's
        -- reference model), c1 docs scored, tail bucket dropped{
            _ppl_gate_ctes("c1", "c2")}
        -- stage 3: DSIR Gumbel-top-k — target features from the English
        -- subset, RAW features from THIS corpus (c2), λ in milli-nats,
        -- deterministic md5 Gumbel, top-{CURATION_SCORED_DSIR_K}
        dtfb AS (
          SELECT CAST(('0x' || substring(md5(f), 1, 8)) AS BIGINT)
                   % {DSIR_BUCKETS} AS b
          FROM (
            SELECT unnest(tk) AS f FROM etoks
            UNION ALL
            SELECT unnest(tk[1:len(tk)-1]) || ' ' || unnest(tk[2:len(tk)])
              AS f
            FROM etoks)),
        drfb AS MATERIALIZED (
          SELECT doc_id,
                 CAST(('0x' || substring(md5(f), 1, 8)) AS BIGINT)
                   % {DSIR_BUCKETS} AS b
          FROM (
            SELECT doc_id, unnest(tk) AS f FROM
              (SELECT doc_id,
                      list_filter(
                        string_split_regex(trim(lower(text)), '\\s+'),
                        x -> x <> '') AS tk
               FROM c2) rt
            UNION ALL
            SELECT doc_id,
                   unnest(tk[1:len(tk)-1]) || ' ' || unnest(tk[2:len(tk)])
                     AS f
            FROM (SELECT doc_id,
                         list_filter(
                           string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS tk
                  FROM c2) rt2)),
        dtc AS (SELECT b, count(*) AS ct FROM dtfb GROUP BY b),
        drc AS (SELECT b, count(*) AS cr FROM drfb GROUP BY b),
        dtt AS (SELECT COALESCE(sum(ct), 0) AS tot_t FROM dtc),
        drt AS (SELECT COALESCE(sum(cr), 0) AS tot_r FROM drc),
        dlam AS (
          SELECT COALESCE(dtc.b, drc.b) AS b,
                 CAST(round(1000 * (
                     ln((COALESCE(ct, 0) + 1.0) / (tot_t + {DSIR_BUCKETS}.0))
                   - ln((COALESCE(cr, 0) + 1.0)
                        / (tot_r + {DSIR_BUCKETS}.0))))
                      AS BIGINT) AS lam
          FROM dtc FULL JOIN drc ON dtc.b = drc.b, dtt, drt),
        dsc AS (
          SELECT drfb.doc_id, count(*) AS nf, sum(dlam.lam) AS milli
          FROM drfb LEFT JOIN dlam ON drfb.b = dlam.b
          GROUP BY drfb.doc_id),
        dsel AS (
          SELECT doc_id FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY sel_milli DESC, doc_id ASC)
                     AS rk
            FROM (
              SELECT doc_id,
                     milli + CAST(round(1000 * (-ln(-ln(
                       (CAST(('0x' || substring(
                          md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        + 0.5) / 4294967296.0)))) AS BIGINT) AS sel_milli
              FROM dsc WHERE milli IS NOT NULL))
          WHERE rk <= {CURATION_SCORED_DSIR_K}),
        c3 AS MATERIALIZED (
          SELECT c2.* FROM c2 JOIN dsel USING (doc_id)),
{_para_ctes("c3", "c4x")}
{_neardup_ctes("c4x", "c5")}
{_decontam_ctes("c5", "c6")}
        -- stage 7: fuzzy (LSH) decontamination — c6's rewritten text vs
        -- the negative-keyed eval split, same banding as stage 5
        fsrc AS (
          SELECT doc_id, text FROM c6
          UNION ALL
          SELECT -doc_id - 1 AS doc_id, text FROM documents
          WHERE doc_id % {DECONTAM_MODULUS} = 0),
        {_lsh_ctes("fsrc", "f")},
        fh AS (
          SELECT DISTINCT id_b AS doc_id FROM fpairs
          WHERE id_a < 0 AND id_b >= 0),
        c7 AS MATERIALIZED (
          SELECT * FROM c6
          WHERE doc_id NOT IN (SELECT doc_id FROM fh)),
{_mixture_ctes("c7", "c8", CURATION_SCORED_MIX_BUDGET, "bt")}
{_shard_ctes("c8", CURATION_SCORED_SHARD_TOKENS, "bt")}
{ledger}
    """


def _bpe_seg_ctes(vocab_cte: str, prefix: str) -> str:
    """CTE fragment replaying bpe_apply_word's leftmost-lowest-rank merge
    loop as a recursive CTE over a vocabulary relation ``vocab_cte``
    (one ``word`` column). Emits ``{prefix}seg`` (the merge states) and
    ``{prefix}fin`` (terminal segmentations: word → nseg). The merge
    table is inlined as a CASE from the same textops.BPE_MERGES constant
    the Spark side uses; single-occurrence steps are equivalent to
    merge-all, see textops.bpe_apply_word."""
    from ..operators.textops import BPE_MERGES

    case = " ".join(
        f"WHEN s[i] = '{a}' AND s[i+1] = '{b}' THEN {r}"
        for r, (a, b) in enumerate(BPE_MERGES, start=1)
    )
    ranks = (
        f"list_transform(range(1, len(s)), i -> CASE {case} "
        "ELSE 999999 END)"
    )
    p = prefix
    return f"""{p}seg AS (
          SELECT word,
                 list_transform(range(1, length(word) + 1),
                                i -> word[i:i]) AS s
          FROM {vocab_cte}
          UNION ALL
          SELECT word, s[1:p - 1] || [s[p] || s[p + 1]] || s[p + 2:len(s)]
          FROM (
            SELECT word, s,
                   list_position(r, list_min(r)) AS p,
                   list_min(r) AS rmin
            FROM (SELECT word, s, {ranks} AS r FROM {p}seg) q
            WHERE len(s) >= 2) q2
          WHERE rmin < 999999),
        {p}fin AS (
          SELECT word, len(s) AS nseg FROM {p}seg
          WHERE len(s) < 2
             OR COALESCE(list_min({ranks}), 999999) = 999999)"""


def _bpe_sql() -> str:
    """DuckDB twin of bpe_encode: the identical leftmost-lowest-rank
    merge loop as a recursive CTE over the DISTINCT-word vocabulary
    (each step merges one pair, terminating when no adjacent pair is in
    the table — single-occurrence steps are equivalent to merge-all,
    see textops.bpe_apply_word), with the merge table inlined as a CASE
    from the same textops.BPE_MERGES constant the Spark side uses."""
    return rf"""
        WITH RECURSIVE
        toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '') AS tk
          FROM documents),
        occ AS (SELECT doc_id, unnest(tk) AS word FROM toks),
        w AS (SELECT DISTINCT word FROM occ),
        {_bpe_seg_ctes("w", "")},
        sc AS (
          SELECT occ.doc_id, count(*) AS nw, sum(f.nseg) AS nb
          FROM occ JOIN fin f USING (word)
          GROUP BY occ.doc_id)
        SELECT t.doc_id,
               CAST(COALESCE(sc.nw, 0) AS BIGINT) AS n_words,
               CAST(COALESCE(sc.nb, 0) AS BIGINT) AS n_bpe_tokens
        FROM toks t LEFT JOIN sc USING (doc_id)
    """


# DSIR weighting SQL, shared by the text_dsir_weight oracle and the
# resample oracle that wraps it
_DSIR_SQL = r"""
        WITH toks AS (
          SELECT doc_id, lang,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '') AS tk
          FROM documents),
        feats AS (
          SELECT doc_id, lang, unnest(tk) AS f FROM toks
          UNION ALL
          SELECT doc_id, lang,
                 unnest(tk[1:len(tk)-1]) || ' ' || unnest(tk[2:len(tk)]) AS f
          FROM toks),
        fb AS (
          SELECT doc_id, lang,
                 CAST(('0x' || substring(md5(f), 1, 8)) AS BIGINT) % 4096 AS b
          FROM feats),
        tcount AS (SELECT b, count(*) AS ct FROM fb
                   WHERE lang = 'en' GROUP BY b),
        rcount AS (SELECT b, count(*) AS cr FROM fb GROUP BY b),
        tt AS (SELECT COALESCE(sum(ct), 0) AS tot_t FROM tcount),
        tr AS (SELECT COALESCE(sum(cr), 0) AS tot_r FROM rcount),
        lam AS (
          SELECT COALESCE(tcount.b, rcount.b) AS b,
                 CAST(round(1000 * (
                     ln((COALESCE(ct, 0) + 1.0) / (tot_t + 4096.0))
                   - ln((COALESCE(cr, 0) + 1.0) / (tot_r + 4096.0))))
                      AS BIGINT) AS lam
          FROM tcount FULL JOIN rcount ON tcount.b = rcount.b, tt, tr),
        sc AS (
          SELECT fb.doc_id, count(*) AS nf, sum(lam.lam) AS milli
          FROM fb LEFT JOIN lam ON fb.b = lam.b
          GROUP BY fb.doc_id)
        SELECT t.doc_id,
               CAST(COALESCE(sc.nf, 0) AS BIGINT) AS n_feats,
               CAST(sc.milli AS BIGINT) AS milli_weight,
               CASE WHEN sc.nf > 0
                    THEN CAST(sc.milli AS DOUBLE)
                         / CAST(sc.nf * 1000 AS DOUBLE)
               END AS avg_log_ratio
        FROM toks t LEFT JOIN sc USING (doc_id)
    """


ORACLES: dict[str, str] = {
    "ann_rh_lsh_topk": _rh_oracle(multiprobe=False),
    "ann_rh_multiprobe_topk": _rh_oracle(multiprobe=True),
    "ann_pq_topk": _pq_oracle(),
    "ann_ivfpq_topk": _pq_oracle(n_probes=2),
    # mirrors annsearch.py:hash_projection_encoder + cosine_topk: sparse
    # (doc, bucket) ±1 sums — exact integers, so dot/norm math is IEEE-
    # deterministic across engines — then the standard rounded-cosine rank
    "ann_encode_topk": rf"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
          FROM documents),
        feat AS (
          SELECT doc_id,
                 CAST(('0x' || substring(md5(t), 1, 12)) AS BIGINT) % 32 AS b,
                 CASE WHEN CAST(('0x' || substring(md5(t), 13, 1)) AS BIGINT)
                           % 2 = 0
                      THEN 1 ELSE -1 END AS s
          FROM tok WHERE t <> ''),
        vec AS (
          SELECT doc_id, b, sum(s) AS val FROM feat GROUP BY 1, 2),
        nrm AS (
          SELECT d.doc_id,
                 coalesce(sqrt(CAST(sum(val * val) AS DOUBLE)), 0) AS n
          FROM documents d LEFT JOIN vec USING (doc_id) GROUP BY 1),
        dots AS (
          SELECT q.doc_id AS query_id, c.doc_id AS corpus_id,
                 CAST(sum(q.val * c.val) AS DOUBLE) AS dp
          FROM vec q JOIN vec c ON q.b = c.b
          WHERE q.doc_id < 5 AND c.doc_id <> q.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT qn.doc_id AS query_id, cn.doc_id AS corpus_id,
                 CASE WHEN qn.n > 0 AND cn.n > 0
                      THEN round(coalesce(d.dp, 0) / (qn.n * cn.n), 6)
                      ELSE 0.0 END AS cosine_sim
          FROM (SELECT * FROM nrm WHERE doc_id < 5) qn
          CROSS JOIN nrm cn
          LEFT JOIN dots d
            ON d.query_id = qn.doc_id AND d.corpus_id = cn.doc_id
          WHERE cn.doc_id <> qn.doc_id),{_rank_sql("pairs")}""",
    "multimodal_frames": """
        WITH base AS (
          SELECT doc_id, text,
                 greatest(CAST(ceil(strlen(text) / 64.0) AS INT), 1) AS nf
          FROM documents),
        e AS (SELECT doc_id, text, unnest(range(0, nf)) AS f FROM base)
        SELECT doc_id, CAST(f AS INT) AS frame_no,
               md5(substring(text, CAST(f * 64 + 1 AS INT), 64)) AS frame_md5,
               CAST(strlen(substring(text, CAST(f * 64 + 1 AS INT), 64)) AS BIGINT) AS frame_bytes
        FROM e
    """,
    "dedup_exact": """
        SELECT md5(text) AS content_hash,
               CAST(min(doc_id) AS BIGINT) AS keep_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    # the rewritten corpus keeps exactly the min-key doc per digest with
    # n_merged = copies collapsed — #clusters + #singletons rows total
    "dedup_apply": """
        SELECT md5(text) AS content_hash,
               CAST(min(doc_id) AS BIGINT) AS keep_id,
               count(*) AS n_merged
        FROM documents GROUP BY md5(text)
    """,
    "dedup_minhash_lsh": _minhash_oracle(),
    # oversized-bucket salvage variant (adversarially low cap)
    "dedup_minhash_salvage": _minhash_salvage_oracle(),
    "dedup_simhash": _simhash_oracle(),
    "dedup_simhash_near": _simhash_near_dup_oracle(),
    # whole-doc blocked Jaccard ∪ winnowing partial-overlap pairs
    # (k=16 char grams, window w=8, min_shared=3, bucket cap 1000 —
    # mirrors operators/dedup.py:winnow_overlap_pairs) ∪ connected
    # components over the Jaccard pairs
    "dedup_ngram_pairs": f"""
        SELECT 'ngram' AS mode, id_a, id_b, score FROM ({_NGRAM_PAIRS_SQL})
        UNION ALL
        SELECT 'cluster' AS mode, node AS id_a, cluster_id AS id_b,
               CAST(cluster_size AS DOUBLE) AS score
        FROM ({_CLUSTERS_SQL})
        UNION ALL
        SELECT 'incr_' || CASE WHEN id_a % {DELTA_SPLIT_MOD} = 0
                                AND id_b % {DELTA_SPLIT_MOD} = 0
                               THEN 'delta_delta' ELSE 'delta_corpus' END AS mode,
               id_a, id_b, jaccard_sim AS score
        FROM ({_minhash_oracle()})
        WHERE id_a % {DELTA_SPLIT_MOD} = 0 OR id_b % {DELTA_SPLIT_MOD} = 0
        UNION ALL
        SELECT 'winnow' AS mode, id_a, id_b, CAST(n_shared AS DOUBLE) AS score
        FROM (
          WITH wb AS (SELECT doc_id, trim(text) AS t FROM documents),
          wh AS (
            SELECT doc_id,
                   list_transform(range(1, greatest(length(t) - 15, 1) + 1),
                     i -> CAST(('0x' || substring(md5(substring(t, CAST(i AS INT), 16)), 1, 12)) AS BIGINT)) AS hs
            FROM wb),
          ws AS (
            SELECT doc_id, hs,
                   list_distinct(list_transform(range(1, greatest(length(hs) - 7, 1) + 1),
                     j -> j - 1 + list_position(hs[CAST(j AS INT):CAST(j + 7 AS INT)],
                                                list_min(hs[CAST(j AS INT):CAST(j + 7 AS INT)])))) AS sel
            FROM wh),
          posted0 AS (
            SELECT doc_id AS key,
                   unnest(list_distinct(list_transform(sel, p -> hs[CAST(p AS INT)]))) AS hv
            FROM ws),
          posted AS (
            SELECT key, hv FROM posted0 {_cap_sql("hv", 1000)})
          SELECT a.key AS id_a, b.key AS id_b, count(*) AS n_shared
          FROM posted a JOIN posted b USING (hv)
          WHERE a.key < b.key
          GROUP BY a.key, b.key
          HAVING count(*) >= 3)
        UNION ALL
        SELECT 'split' AS mode, doc_id AS id_a, cluster_id AS id_b,
               CAST(CASE WHEN split = 'eval' THEN 1 ELSE 0 END AS DOUBLE)
                 AS score
        FROM ({_SPLIT_SQL})
    """,
    "dedup_clusters": _CLUSTERS_SQL,
    "split_leakage_safe": _SPLIT_SQL,
    # full-corpus LSH pairs restricted to pairs touching the %5==0 delta
    # (the exactness property incremental_minhash_dedup guarantees)
    "dedup_incremental": f"""
        SELECT id_a, id_b, jaccard_sim,
               CASE WHEN id_a % {DELTA_SPLIT_MOD} = 0
                     AND id_b % {DELTA_SPLIT_MOD} = 0 THEN 'delta_delta'
                    ELSE 'delta_corpus' END AS pair_type
        FROM ({_minhash_oracle()})
        WHERE id_a % {DELTA_SPLIT_MOD} = 0 OR id_b % {DELTA_SPLIT_MOD} = 0
    """,
    # 10-word segments in ≥2 distinct docs are dropped; surviving text
    # re-joined in order and md5'd (operators/textops.py:paragraph_dedup)
    "text_paragraph_dedup": r"""
        WITH t AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
          FROM documents),
        sp AS (
          SELECT doc_id, tk,
                 unnest(range(0, greatest(CAST(ceil(length(tk) / 10.0) AS INT), 1))) AS pos
          FROM t),
        segd AS (
          SELECT doc_id, CAST(pos AS INT) AS pos,
                 array_to_string(tk[CAST(pos * 10 + 1 AS INT):CAST(pos * 10 + 10 AS INT)], ' ') AS seg
          FROM sp),
        dup AS (
          SELECT md5(seg) AS h FROM segd
          GROUP BY md5(seg) HAVING count(DISTINCT doc_id) >= 2),
        fl AS (
          SELECT s.doc_id, s.pos, s.seg, (d.h IS NOT NULL) AS is_dup
          FROM segd s LEFT JOIN dup d ON md5(s.seg) = d.h)
        SELECT doc_id AS key,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               md5(coalesce(string_agg(CASE WHEN NOT is_dup THEN seg END, ' ' ORDER BY pos), '')) AS dedup_hash
        FROM fl GROUP BY doc_id
    """,
    # 5-word-shingle overlap of the doc_id % 23 != 0 training split
    # against the % 23 == 0 eval split (operators/textops.py:decontaminate)
    "text_decontaminate": r"""
        WITH evtk AS (
          SELECT string_split_regex(trim(text), '\s+') AS tk
          FROM documents WHERE doc_id % 23 = 0),
        evg0 AS (
          SELECT unnest(list_distinct(list_transform(
                   range(1, greatest(length(tk) - 4, 1) + 1),
                   i -> array_to_string(tk[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')))) AS g
          FROM evtk),
        ev AS (SELECT DISTINCT md5(g) AS h FROM evg0),
        trtk AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
          FROM documents WHERE doc_id % 23 <> 0),
        trg AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(length(tk) - 4, 1) + 1),
                   i -> array_to_string(tk[CAST(i AS INT):CAST(i + 4 AS INT)], ' '))) AS gs
          FROM trtk),
        ex0 AS (
          SELECT doc_id, CAST(length(gs) AS BIGINT) AS n_grams, unnest(gs) AS g
          FROM trg),
        ex AS (SELECT doc_id, n_grams, md5(g) AS h FROM ex0)
        SELECT t.doc_id AS key,
               count(DISTINCT t.h) AS n_hit_grams,
               t.n_grams,
               round(CAST(count(DISTINCT t.h) AS DOUBLE) / CAST(t.n_grams AS DOUBLE), 6) AS hit_frac
        FROM ex t JOIN ev e ON t.h = e.h
        GROUP BY t.doc_id, t.n_grams
    """,
    # exclusive running-token-total → shard of ~1000 whitespace tokens
    # (operators/textops.py:pack_shards)
    "text_shard_pack": r"""
        WITH t AS (
          SELECT CAST(doc_id AS BIGINT) AS key,
                 CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
          FROM documents)
        SELECT key, n_tokens,
               CAST(floor((sum(n_tokens) OVER (ORDER BY key
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_tokens) / 1000.0) AS BIGINT) AS shard_id
        FROM t
    """,
    # ExactSubstr dedup (operators/textops.py:exact_substring_dedup):
    # duplicated-8-gram coverage minus the (key,pos)-min canonical
    # occurrence; per-doc survivor hash over space-rejoined kept tokens
    "text_substring_dedup": """
        WITH t AS (
          SELECT doc_id AS key,
                 string_split_regex(trim(text), '\\s+') AS tk
          FROM documents),
        g AS (
          SELECT key, CAST(i AS INT) - 1 AS pos,
                 md5(array_to_string(
                     tk[CAST(i AS INT):CAST(i AS INT) + 7], ' ')) AS h
          FROM t, unnest(range(1, len(tk) - 8 + 2)) AS r(i)
          WHERE len(tk) >= 8),
        gw AS (
          SELECT key, pos,
                 count(*) OVER (PARTITION BY h) AS cnt,
                 row_number() OVER (PARTITION BY h
                                    ORDER BY key, pos) AS rn
          FROM g),
        cov AS (
          SELECT DISTINCT key, pos + CAST(u AS INT) AS tt
          FROM gw, unnest(range(0, 8)) AS r(u)
          WHERE cnt >= 2 AND rn > 1),
        tokpos AS (
          SELECT key, CAST(i AS INT) AS i,
                 tk[CAST(i AS INT)] AS w, len(tk) AS n
          FROM t, unnest(range(1, len(tk) + 1)) AS r(i))
        SELECT tp.key AS doc_id,
               CAST(any_value(tp.n) AS BIGINT) AS n_tokens,
               CAST(count(*) FILTER (WHERE c.tt IS NOT NULL) AS BIGINT)
                 AS n_removed,
               md5(coalesce(
                 string_agg(tp.w, ' ' ORDER BY tp.i)
                   FILTER (WHERE c.tt IS NULL), '')) AS dedup_hash
        FROM tokpos tp
        LEFT JOIN cov c ON c.key = tp.key AND c.tt = tp.i - 1
        GROUP BY tp.key
    """,
    # pHash image dedup: expected dHash VALUES from the raw pixel rows +
    # brute-force Hamming spec + recursive CC (the banded Spark path is
    # provably complete at radius <= bands-1, so the results coincide)
    "dedup_image_phash": _image_phash_sql(),
    # audio fingerprint dedup: same twin shape over the WAV fixtures'
    # pre-pack expected temporal-energy dHashes
    "dedup_audio_fp": _audio_fp_sql(),
    # video dedup: per-frame dHash VALUES + cross-video frame-pair spec
    # + >=4-matching-frames video pairs + recursive CC
    "dedup_video_phash": _video_phash_sql(),
    # incremental perceptual dedup: delta-involved brute-force pairs only
    "dedup_image_phash_inc": _image_phash_inc_sql(),
    # SemDeDup verdicts (operators/dedup.py:semantic_dedup): deterministic
    # lowest-key centroids, highest-(csim, cluster_id) assignment,
    # (centroid_sim ASC, key ASC) in-cluster rank, dropped iff an
    # earlier-ranked member is >= threshold-similar
    "dedup_semantic": _SEMANTIC_SQL,
    "dedup_semantic_routed": _semantic_routed_oracle(),
    # incremental SemDeDup (operators/dedup.py:incremental_semantic_dedup):
    # the oracle IS the exactness contract — full-union verdicts
    # restricted to the delta split (vec_id % 5 = 0, the
    # dedup_incremental fixture convention)
    "dedup_semantic_inc": f"""
        SELECT * FROM ({_SEMANTIC_SQL}) WHERE vec_id % 5 = 0
    """,
    "dedup_embedding": f"""
        SELECT 'emb' AS mode, id_a, id_b, cosine_sim FROM (
        WITH base AS (
          SELECT vec_id AS key, label AS block,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
          -- block-size cap (operators/dedup.py:embedding_near_dup)
          {_cap_sql("label", 100000)})
        SELECT a.key AS id_a, b.key AS id_b,
               round({_COSINE.format(a="a.v", b="b.v")}, 6) AS cosine_sim
        FROM base a JOIN base b ON a.block = b.block
        WHERE a.key < b.key
          AND round({_COSINE.format(a="a.v", b="b.v")}, 6) >= 0.3)
        UNION ALL
        SELECT 'encoded' AS mode, id_a, id_b, cosine_sim FROM (
        -- mirror of encode_documents + rh_signature sign blocks +
        -- embedding_near_dup: sparse ±1 bucket sums are exact integers,
        -- so dot/norm/sign math is engine-independent
        WITH tok AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
          FROM documents),
        feat AS (
          SELECT doc_id,
                 CAST(('0x' || substring(md5(t), 1, 12)) AS BIGINT) % 32 AS b,
                 CASE WHEN CAST(('0x' || substring(md5(t), 13, 1)) AS BIGINT)
                           % 2 = 0
                      THEN 1 ELSE -1 END AS s
          FROM tok WHERE t <> ''),
        vec AS (
          SELECT doc_id, b, sum(s) AS val FROM feat GROUP BY 1, 2),
        nrm AS (
          SELECT d.doc_id,
                 coalesce(sqrt(CAST(sum(val * val) AS DOUBLE)), 0) AS n
          FROM documents d LEFT JOIN vec USING (doc_id) GROUP BY 1),
        planes AS (
          SELECT CAST(t1.range AS BIGINT) AS p, CAST(t2.range AS BIGINT) AS d,
                 CASE WHEN CAST(('0x' || substring(md5(
                        CAST(t1.range AS VARCHAR) || ':'
                        || CAST(t2.range AS VARCHAR)), 1, 1)) AS BIGINT)
                      % 2 = 0
                      THEN 1 ELSE -1 END AS s
          FROM range(6) t1 CROSS JOIN range(32) t2),
        sigbits AS (
          SELECT v.doc_id, pl.p,
                 CASE WHEN sum(pl.s * v.val) > 0 THEN '1' ELSE '0' END AS bit
          FROM vec v JOIN planes pl ON pl.d = v.b
          GROUP BY v.doc_id, pl.p),
        sig AS (
          SELECT d.doc_id,
                 coalesce(string_agg(bit, '' ORDER BY p), '000000') AS block
          FROM documents d LEFT JOIN sigbits sb ON sb.doc_id = d.doc_id
          GROUP BY d.doc_id),
        dots AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(sum(a.val * b.val) AS DOUBLE) AS dp
          FROM vec a JOIN vec b ON a.b = b.b AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT x.doc_id AS id_a, y.doc_id AS id_b,
               round(d.dp / (xn.n * yn.n), 6) AS cosine_sim
        FROM sig x
        JOIN sig y ON x.block = y.block AND x.doc_id < y.doc_id
        JOIN dots d ON d.id_a = x.doc_id AND d.id_b = y.doc_id
        JOIN nrm xn ON xn.doc_id = x.doc_id
        JOIN nrm yn ON yn.doc_id = y.doc_id
        WHERE xn.n > 0 AND yn.n > 0
          AND round(d.dp / (xn.n * yn.n), 6) >= 0.8)
    """,
    # collision print ∪ winnowing print (k=5 char grams, window w=4,
    # leftmost-min; hash = first 12 md5 hex chars as BIGINT — mirrors
    # operators/textops.py:winnow_fingerprint)
    "text_fingerprint": r"""
        SELECT 'collision' AS mode, doc_id,
               md5(array_to_string(
                 list_sort(list_distinct(string_split_regex(trim(lower(text)), '\s+'))),
                 ' ')) AS fingerprint
        FROM documents
        UNION ALL
        SELECT 'winnow' AS mode, doc_id, fingerprint FROM (
          WITH b AS (SELECT doc_id, trim(text) AS t FROM documents),
          h AS (
            SELECT doc_id,
                   list_transform(range(1, greatest(length(t) - 4, 1) + 1),
                     i -> CAST(('0x' || substring(md5(substring(t, CAST(i AS INT), 5)), 1, 12)) AS BIGINT)) AS hs
            FROM b),
          s AS (
            SELECT doc_id, hs,
                   list_distinct(list_transform(range(1, greatest(length(hs) - 3, 1) + 1),
                     j -> j - 1 + list_position(hs[CAST(j AS INT):CAST(j + 3 AS INT)],
                                                list_min(hs[CAST(j AS INT):CAST(j + 3 AS INT)])))) AS sel
            FROM h)
          SELECT doc_id,
                 md5(array_to_string(list_transform(list_sort(sel),
                     p -> CAST(p AS VARCHAR) || ':' || CAST(hs[CAST(p AS INT)] AS VARCHAR)), ',')) AS fingerprint
          FROM s)
    """,
    "text_language_id": r"""
        WITH t AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk,
                 lower(trim(text)) AS lt
          FROM documents),
        r AS (
          SELECT doc_id,
                 CASE WHEN length(tk) > 0
                      THEN round(CAST(length(list_filter(tk, x -> lower(x) IN
                             ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
                           / CAST(length(tk) AS DOUBLE), 6)
                      ELSE 0.0 END AS stopword_ratio,
                 CASE WHEN length(lt) > 1
                      THEN round(CAST(length(list_filter(
                             list_transform(range(1, greatest(length(lt) - 1, 1) + 1),
                               i -> substring(lt, CAST(i AS INT), 2)),
                             g -> g IN ('th','he','in','er','an','re','on','at','en','nd',
                                        'ti','es','or','te','of','ed','is','it','al','ar')))
                             AS DOUBLE)
                           / CAST(greatest(length(lt) - 1, 1) AS DOUBLE), 6)
                      ELSE 0.0 END AS bigram_ratio
          FROM t)
        SELECT doc_id, stopword_ratio, bigram_ratio,
               CASE WHEN stopword_ratio >= 0.03 THEN 'en' ELSE 'other' END AS lang_pred
        FROM r
    """,
    "text_quality_score": r"""
        WITH t AS (
          SELECT doc_id,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(length(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tokens,
                 CAST(list_sum(list_transform(
                   string_split_regex(trim(text), '\s+'),
                   x -> length(x))) AS DOUBLE) AS tok_chars,
                 CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
                 CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) AS upper_c
          FROM documents),
        f AS (
          SELECT doc_id, n_chars, n_tokens,
                 CASE WHEN n_tokens > 0
                      THEN round(tok_chars / n_tokens, 6) ELSE 0.0 END AS mean_word_len,
                 CASE WHEN n_chars > 0 THEN round(punct / n_chars, 6) ELSE 0.0 END AS punct_ratio,
                 CASE WHEN n_chars > 0 THEN round(upper_c / n_chars, 6) ELSE 0.0 END AS upper_ratio
          FROM t)
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS n_chars_obs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               mean_word_len, punct_ratio, upper_ratio,
               CASE WHEN n_tokens >= 10 AND punct_ratio < 0.2 AND upper_ratio < 0.3
                    THEN 1.0 ELSE 0.0 END AS quality
        FROM f
    """,
    "text_token_counts": r"""
        SELECT doc_id,
               CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
               CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
               CAST(floor(length(text) / 4.0) AS BIGINT) AS approx_llm_tokens
        FROM documents
    """,
    "ann_cosine_topk": f"""
        WITH{_float_sides_sql()}{_pairs_sql("c CROSS JOIN q")}""",
    "ann_project_topk": _jl_project_oracle(),
    "ann_sq_topk": _sq_oracle(),
    "ann_ivfsq_topk": _sq_oracle(n_probes=2),
    "ann_ivf_topk": _ivf_oracle(1),
    # pre-filter: eligibility applied before the rank window, routing
    # over the full-corpus centroid artifact
    "ann_filtered_topk": _ivf_oracle(2, lang="de"),
    "ann_ivf_multiprobe_topk": _ivf_oracle(2),
    # md5-bucket stratified sample: en kept iff first-8-hex bucket < 0.3·16^8
    "text_stratified_sample": """
        SELECT lang, count(*) AS n_kept FROM documents
        WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              < (CASE WHEN lang = 'en' THEN 0.3 ELSE 1.0 END) * 4294967296.0
        GROUP BY lang
    """,
    # mixture resample: rate = min(1, budget·w/Σw ÷ current-domain
    # tokens); keep iff md5 bucket < rate·16^8 (same trick as
    # text_stratified_sample, rate computed from the corpus)
    "text_mixture_sample": r"""
        WITH d AS (
          SELECT lang, doc_id,
                 length(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS nt
          FROM documents),
        cur AS (SELECT lang, CAST(sum(nt) AS BIGINT) AS c
                FROM d GROUP BY lang),
        r AS (
          SELECT lang,
                 least(1.0,
                   (8000.0 * (CASE lang WHEN 'de' THEN 0.5
                                        WHEN 'en' THEN 0.25
                                        WHEN 'zh' THEN 0.25 END / 1.0))
                   / CAST(c AS DOUBLE)) AS accept_rate
          FROM cur
          WHERE lang IN ('de', 'en', 'zh')),
        k AS (
          SELECT d.lang, d.doc_id, d.nt, r.accept_rate
          FROM d JOIN r USING (lang)
          WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) < accept_rate * 4294967296.0)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens_kept, accept_rate
        FROM k GROUP BY lang, accept_rate
    """,
    # temperature sampling: rate_i = min(1, budget·c_i^α/Σc^α ÷ c_i),
    # rounded to 6dp BEFORE the accept comparison in both engines (pow
    # and the tiny cross-domain sum may differ in the last ulp)
    "text_temperature_sample": r"""
        WITH d AS (
          SELECT lang, doc_id,
                 length(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS nt
          FROM documents
          WHERE lang IS NOT NULL),
        cur AS (SELECT lang, CAST(sum(nt) AS BIGINT) AS c
                FROM d GROUP BY lang),
        p AS (
          SELECT lang, c,
                 CASE WHEN c > 0 THEN pow(CAST(c AS DOUBLE), 0.5)
                      ELSE 0.0 END AS pa
          FROM cur),
        t AS (SELECT sum(pa) AS tot FROM p),
        r AS (
          SELECT lang,
                 round(CASE WHEN c > 0 AND tot > 0
                            THEN least(1.0,
                              (8000.0 * pa / tot) / CAST(c AS DOUBLE))
                            ELSE 1.0 END, 6) AS accept_rate
          FROM p, t),
        k AS (
          SELECT d.lang, d.doc_id, d.nt, r.accept_rate
          FROM d JOIN r USING (lang)
          WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) < accept_rate * 4294967296.0)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens_kept, accept_rate
        FROM k GROUP BY lang, accept_rate
    """,
    # hashed linear scorer: integer milli-weight per md5 bucket, one
    # integer sum per doc, single double division at the end
    "text_quality_model": r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS tk
          FROM documents),
        w AS (SELECT range AS b, (range * 2654435761) % 2001 - 1000 AS wt
              FROM range(0, 4096)),
        ex AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
        s AS (
          SELECT ex.doc_id, count(*) AS n, sum(w.wt) AS ws
          FROM ex JOIN w
            ON CAST(('0x' || substring(md5(ex.tok), 1, 8)) AS BIGINT) % 4096
               = w.b
          GROUP BY ex.doc_id)
        SELECT t.doc_id,
               CAST(COALESCE(s.n, 0) AS BIGINT) AS n_tokens,
               CASE WHEN s.n > 0
                    THEN CAST(s.ws AS DOUBLE) / CAST(s.n * 1000 AS DOUBLE)
               END AS score
        FROM toks t LEFT JOIN s USING (doc_id)
    """,
    # CCNet-style bigram-LM perplexity: integer milli-nat costs per
    # bigram (round(-1000·ln p) — the 1e-3-nat quantization absorbs
    # ≤1-ulp libm ln differences), exact integer sums per doc, one
    # integer/integer double division at the end so the bucket
    # comparisons see bit-identical avg_nll in both engines
    "text_lm_perplexity": r"""
        WITH toks AS (
          SELECT doc_id, lang,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '') AS tk
          FROM documents),
        bg AS (
          SELECT doc_id, lang,
                 CAST(('0x' || substring(md5(unnest(tk[1:len(tk)-1])), 1, 8))
                      AS BIGINT) % 2048 AS h1,
                 CAST(('0x' || substring(md5(unnest(tk[2:len(tk)])), 1, 8))
                      AS BIGINT) % 2048 AS h2
          FROM toks),
        rb AS (SELECT h1, h2, count(*) AS b FROM bg
               WHERE lang = 'en' GROUP BY h1, h2),
        ctx AS (SELECT h1, sum(b) AS u FROM rb GROUP BY h1),
        model AS (
          SELECT rb.h1, rb.h2,
                 CAST(round(-1000 * ln((b + 1.0) / (u + 2048.0)))
                      AS BIGINT) AS m
          FROM rb JOIN ctx USING (h1)),
        ctxu AS (
          SELECT h1,
                 CAST(round(-1000 * ln(1.0 / (u + 2048.0))) AS BIGINT) AS mu
          FROM ctx),
        sc AS (
          SELECT bg.doc_id, count(*) AS nb,
                 sum(COALESCE(m, mu,
                     CAST(round(1000 * ln(2048.0)) AS BIGINT))) AS milli
          FROM bg
          LEFT JOIN model USING (h1, h2)
          LEFT JOIN ctxu USING (h1)
          GROUP BY bg.doc_id),
        o AS (
          SELECT t.doc_id,
                 CAST(COALESCE(sc.nb, 0) AS BIGINT) AS n_bigrams,
                 CASE WHEN sc.nb > 0
                      THEN CAST(sc.milli AS DOUBLE)
                           / CAST(sc.nb * 1000 AS DOUBLE)
                 END AS avg_nll
          FROM toks t LEFT JOIN sc USING (doc_id))
        SELECT doc_id, n_bigrams, avg_nll,
               CASE WHEN avg_nll IS NULL THEN 'unscored'
                    WHEN avg_nll < 5.15 THEN 'head'
                    WHEN avg_nll > 5.20 THEN 'tail'
                    ELSE 'middle' END AS ppl_bucket
        FROM o
    """,
    # DSIR importance weighting: per-bucket integer milli-nat log ratio
    # λ = round(1000·(ln p̂_target − ln p̂_raw)) over hashed
    # unigram+bigram features; exact integer per-doc sums
    "text_dsir_weight": _DSIR_SQL,
    # BPE tokenization: the merge loop as a recursive CTE over the
    # distinct-word vocabulary, merge table inlined from BPE_MERGES
    "text_bpe_encode": _bpe_sql(),
    # DSIR Gumbel-top-k selection: deterministic md5-uniform →
    # −ln(−ln u) Gumbel in integer milli-nats added to the weight,
    # top-50 without replacement
    "text_dsir_resample": (
        "WITH scored AS (" + _DSIR_SQL + r"""),
        g AS (
          SELECT doc_id, milli_weight,
                 milli_weight + CAST(round(1000 * (-ln(-ln(
                   (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                           1, 8)) AS BIGINT) + 0.5)
                   / 4294967296.0)))) AS BIGINT) AS sel_milli
          FROM scored WHERE milli_weight IS NOT NULL),
        r AS (
          SELECT doc_id, milli_weight, sel_milli,
                 CAST(row_number() OVER (
                   ORDER BY sel_milli DESC, doc_id ASC) AS BIGINT)
                   AS sel_rank
          FROM g)
        SELECT * FROM r WHERE sel_rank <= 50
    """
    ),
    "text_pii_scrub": r"""
        WITH t AS (
          SELECT c_custkey,
                 concat_ws(' ', c_name,
                   'email', 'user' || CAST(c_custkey AS VARCHAR) || '@example.com',
                   'call', printf('%02d-%03d-%03d-%04d',
                     c_custkey % 90 + 10, c_custkey % 900 + 100,
                     (c_custkey * 7) % 900 + 100, (c_custkey * 13) % 9000 + 1000),
                   'or', printf('+63%09d', (c_custkey * 17) % 1000000000),
                   'or', printf('(02) %04d-%04d',
                     (c_custkey * 19) % 10000, (c_custkey * 23) % 10000),
                   'on', printf('2024-%02d-%02d',
                     c_custkey % 12 + 1, c_custkey % 28 + 1),
                   'from', printf('%d.%d.%d.%d',
                     c_custkey % 256, (c_custkey * 3) % 256,
                     (c_custkey * 7) % 256, (c_custkey * 11) % 256)
                 ) AS contact_text
          FROM customer)
        SELECT c_custkey,
               CAST(len(regexp_extract_all(contact_text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(contact_text,
                 '(?:\+\d{10,13}\b)|(?:\(\d{1,4}\)[ -]?\d{3,4}[ -]?\d{4}\b)|(?:\b\d{2,4}(?:[ -]\d{3,4}){2,3}\b)')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(contact_text,
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(contact_text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                   '(?:\+\d{10,13}\b)|(?:\(\d{1,4}\)[ -]?\d{3,4}[ -]?\d{4}\b)|(?:\b\d{2,4}(?:[ -]\d{3,4}){2,3}\b)',
                   '<PHONE>', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
               AS text_redacted
        FROM t
    """,
    # positional (multiset) shingles: toks[i:i+2] is DuckDB's 1-based
    # INCLUSIVE slice — 3 tokens — mirroring Spark's slice(toks, i, 3)
    "text_repetition": r"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        ext AS (
          SELECT doc_id, toks, len(toks) AS n_tok,
                 CASE WHEN len(toks) >= 3 THEN
                   list_transform(range(1, len(toks) - 1),
                                  i -> array_to_string(toks[i:i+2], ' '))
                 ELSE CAST([] AS VARCHAR[]) END AS sh
          FROM base)
        SELECT doc_id,
               CAST(n_tok AS BIGINT) AS n_tokens,
               round(CASE WHEN n_tok > 0
                          THEN (n_tok - len(list_distinct(toks)))
                               / CAST(n_tok AS DOUBLE)
                          ELSE 0.0 END, 6) AS dup_token_frac,
               CAST(len(sh) AS BIGINT) AS n_shingles,
               round(CASE WHEN len(sh) > 0
                          THEN (len(sh) - len(list_distinct(sh)))
                               / CAST(len(sh) AS DOUBLE)
                          ELSE 0.0 END, 6) AS dup_shingle_frac
        FROM ext
    """,
    "text_tfidf_top_terms": r"""
        WITH terms AS (
          SELECT doc_id AS key, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
          FROM documents),
        tf AS (
          SELECT key, term, count(*) AS tf FROM terms GROUP BY key, term),
        df_t AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.key, tf.term,
                 round(tf.tf * (n.n_docs + 1.0) / (df_t.df + 1.0), 6) AS tfidf
          FROM tf JOIN df_t USING (term) CROSS JOIN n),
        ranked AS (
          SELECT key, term, tfidf,
                 row_number() OVER (PARTITION BY key
                                    ORDER BY tfidf DESC, term ASC) AS rn
          FROM scored)
        SELECT key AS doc_id, term, tfidf, CAST(rn AS BIGINT) AS "rank"
        FROM ranked WHERE rn <= 5
    """,
    # same md5-seeded cell hashing as operators/aggregations.py:_cms_cols
    # (depth 4, width 1024, seed '#d'); est = min cell count over depth
    "text_heavy_hitters": r"""
        WITH tok AS (
          SELECT t.token
          FROM documents, unnest(string_split_regex(trim(text), '\s+')) AS t(token)
          WHERE t.token <> ''),
        pos AS (
          SELECT token, i.i AS d,
                 CAST(('0x' || substring(md5(token || '#'
                      || CAST(i.i AS VARCHAR)), 1, 12)) AS BIGINT) % 1024 AS w
          FROM tok, (SELECT unnest([0, 1, 2, 3]) AS i) AS i),
        cells AS (
          SELECT d, w, count(*) AS cnt FROM pos GROUP BY d, w),
        est AS (
          SELECT p.token, min(c.cnt) AS est_count
          FROM (SELECT DISTINCT token, d, w FROM pos) p
          JOIN cells c USING (d, w)
          GROUP BY p.token),
        truec AS (
          SELECT token, count(*) AS n_true FROM tok GROUP BY token)
        SELECT e.token, e.est_count, t.n_true
        FROM est e JOIN truec t USING (token)
        WHERE e.est_count >= 200 AND t.n_true >= 200
    """,
    # rational-idf BM25 (k1=1.2, b=0.75): idf=(N-df+0.5)/(df+0.5),
    # per-term scores rounded then summed as DECIMAL — mirrors
    # operators/textops.py:bm25_topk expression-for-expression
    "text_bm25_search": r"""
        WITH toks AS (
          SELECT doc_id AS key,
                 string_split_regex(trim(lower(text)), '\s+') AS tk
          FROM documents),
        postings AS (
          SELECT key, dl, term, count(*) AS tf
          FROM (SELECT key, CAST(len(tk) AS BIGINT) AS dl,
                       unnest(tk) AS term FROM toks)
          GROUP BY key, dl, term),
        cand AS (
          SELECT * FROM postings WHERE term IN ('hash', 'join', 'vector')),
        idf_t AS (
          SELECT term, count(*) AS df_t FROM cand GROUP BY term),
        stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                 avg(CAST(len(tk) AS BIGINT)) AS avgdl
          FROM toks),
        scored AS (
          SELECT c.key,
                 CAST(round(
                   ((s.n_docs - i.df_t + 0.5) / (i.df_t + 0.5))
                   * ((c.tf * 2.2)
                      / (c.tf + 1.2 * (0.25 + 0.75 * c.dl / s.avgdl))),
                   6) AS DECIMAL(18,6)) AS term_score
          FROM cand c JOIN idf_t i USING (term) CROSS JOIN stats s)
        SELECT key AS doc_id,
               CAST(round(sum(term_score), 6) AS DOUBLE) AS score,
               count(*) AS n_matched
        FROM scored GROUP BY key
        ORDER BY score DESC, doc_id ASC LIMIT 15
    """,
    # fixed-order rule list mirroring operators/textops.py:quality_filter
    # defaults (min_tokens 30, max 100000, word_len [2,12], punct .2,
    # upper .3, dup_token .65, dup_shingle .35, stopword .01); thresholds
    # compare the same 6-decimal-rounded ratios both engines publish
    "text_quality_filter": r"""
        WITH t AS (
          SELECT doc_id,
                 text IS NULL AS is_null,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS tk,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                   AS DOUBLE) AS punct,
                 CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                   AS DOUBLE) AS upper_c
          FROM documents),
        s AS (
          SELECT doc_id, is_null, tk, n_chars,
                 CAST(length(tk) AS BIGINT) AS n_tok,
                 CAST(length(tk) AS DOUBLE) AS n_tok_d,
                 CASE WHEN length(tk) >= 3
                      THEN list_transform(range(1, length(tk) - 1),
                             i -> array_to_string(tk[i:i+2], ' '))
                      ELSE [] END AS sh,
                 punct, upper_c
          FROM t),
        r AS (
          SELECT doc_id, is_null, n_tok,
                 CASE WHEN n_tok > 0
                      THEN round(CAST(list_sum(list_transform(tk,
                             x -> length(x))) AS DOUBLE) / n_tok_d, 6)
                      ELSE 0.0 END AS mean_word_len,
                 CASE WHEN n_chars > 0 THEN round(punct / n_chars, 6)
                      ELSE 0.0 END AS punct_ratio,
                 CASE WHEN n_chars > 0 THEN round(upper_c / n_chars, 6)
                      ELSE 0.0 END AS upper_ratio,
                 CASE WHEN n_tok > 0
                      THEN round((n_tok - length(list_distinct(tk)))
                                 / n_tok_d, 6)
                      ELSE 0.0 END AS dup_tok,
                 CASE WHEN length(sh) > 0
                      THEN round(CAST(length(sh) - length(list_distinct(sh))
                                 AS DOUBLE) / CAST(length(sh) AS DOUBLE), 6)
                      ELSE 0.0 END AS dup_sh,
                 CASE WHEN n_tok > 0
                      THEN round(CAST(length(list_filter(tk, x -> lower(x) IN
                             ('the','a','and','of','to','in','is','it')))
                             AS DOUBLE) / n_tok_d, 6)
                      ELSE 0.0 END AS stop_ratio
          FROM s),
        d AS (
          SELECT doc_id, n_tok AS n_tokens,
                 CASE WHEN is_null THEN 'null_text' ELSE
                 concat_ws(',',
                   CASE WHEN n_tok < 30 THEN 'too_short' END,
                   CASE WHEN n_tok > 100000 THEN 'too_long' END,
                   CASE WHEN mean_word_len < 2.0 OR mean_word_len > 12.0
                        THEN 'word_len' END,
                   CASE WHEN punct_ratio > 0.2 THEN 'punct' END,
                   CASE WHEN upper_ratio > 0.3 THEN 'upper' END,
                   CASE WHEN dup_tok > 0.65 THEN 'rep_token' END,
                   CASE WHEN dup_sh > 0.35 THEN 'rep_shingle' END,
                   CASE WHEN stop_ratio < 0.01 THEN 'stopword' END
                 ) END AS reasons
          FROM r)
        SELECT doc_id, n_tokens, reasons = '' AS keep, reasons FROM d
    """,
    # same key-derived URL fixture as q_text_url_domains; extraction /
    # host normalization / registered-domain mirror extract_urls
    "text_url_domains": _URL_DOMAINS_SQL,
    "text_pagerank": _PAGERANK_SQL,
    "text_pagerank_rd": _PAGERANK_RD_SQL,
    # the full 12-round unroll vs Spark's round-3 early stop — the
    # hash-match IS the exactness proof
    "text_pagerank_es": _PAGERANK_DAG_SQL,
    "text_communities": _TRUSS_SQL,
    "text_communities_capped": _TRUSS_CAPPED_SQL,
    # drained incremental == full-batch truss, verbatim
    "text_communities_inc": _TRUSS_SQL,
    # changed rows MERGEd over the stored assignment == the batch truss
    "text_communities_merge": _TRUSS_SQL,
    # the composed six-stage curation chain's per-stage ledger
    "curation_pipeline": _curation_sql(),
    # the nine-stage SCORED chain (model gates composed in, BPE budgets)
    "curation_scored_pipeline": _curation_scored_sql(),
    "curation_semantic_pipeline": _curation_semantic_sql(),
    # near-dup decontamination = union LSH pairs restricted to train×eval
    "text_fuzzy_decontaminate": _fuzzy_decontam_oracle(),
    # deterministic md5(key)-ordered quota, mirroring group_sample_k
    "text_group_sample": """
        WITH r AS (
          SELECT lang, doc_id,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
        SELECT lang, doc_id, CAST(rn AS BIGINT) AS sample_rank
        FROM r WHERE rn <= 20
    """,
}
