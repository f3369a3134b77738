"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k — broadcast the (small) query set against
the corpus, score with native array expressions (zip_with/aggregate — JVM
codegen, no Python), take per-query top-k with a window. One corpus scan,
no shuffle of the vectors themselves beyond the top-k aggregation.

Scale path: IVF (inverted-file) — assign every vector to its nearest
centroid once (a narrow column), then answer queries by probing only the
nearest centroid's posting list. At 100 TB the corpus is bucketed/partitioned
by ``cluster_id`` so a probe is a partition-pruned scan, not a full pass.

Centroid choice here is deterministic (lowest-id vector per label) so the
DuckDB oracle reproduces the exact same clustering without shared RNG state;
swap in k-means centroids in production — the plan shape is identical.

Every search operator is one pipeline — route, candidate set, score,
top-k — composed from private kernels written once each: ``_route``
(the IVF router: a broadcast centroid cross join, then each query's
``n_probes`` best centroids), ``_pairs`` (the candidate join — cross,
or equi on ``sig`` / ``cluster_id`` — minus self-matches, plus one
score), the scorers ``_cosine_sim`` (pre-normed float cosine over
``_float_side`` projections, which also carry the RH-LSH signature)
and ``_sq_cosine`` (SQ8 integer dot over ``_sq_side`` codes), the PQ
distance table and ADC fold (``_pq_topk``), ``_top_k`` (per-query
``windows.top_k_per_group``, ties → lowest corpus id), and ``_scope``
/ ``_post_filter`` (the ``filter_mode`` check and post-filter
semi-join). ``cosine_topk`` and ``sq_topk`` are cross ``_pairs``; the
RH-LSH operators join on ``sig``; ``ivf_topk``, ``ivfsq_topk`` and
``ivfpq_topk`` route first and join on ``cluster_id``.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.similarity import cosine, cosine_prenorm, norm2
from .windows import top_k_per_group


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda v: v.cast("double"))


# ------------------------------------------------------------- kernels
def _top_k(
    scored: DataFrame, query_key: str, k: int, score_col: str = "cosine_sim",
    ascending: bool = False,
) -> DataFrame:
    """Per-query top-k by ``score_col`` (ties → lowest corpus id), as
    (query, corpus_id, score, rank)."""
    order = F.asc(score_col) if ascending else F.desc(score_col)
    return top_k_per_group(
        scored, [query_key], [order, F.asc("corpus_id")], k, rank_col="rank"
    ).select(query_key, "corpus_id", score_col, "rank")


def _float_side(
    df: DataFrame, key: Column | str, vec_col: str, side: str,
    planes: list[list[int]] | None = None,
) -> DataFrame:
    """(key, ``{side}v``, [sig], ``{side}n``): the double vector, its RH-LSH
    signature when ``planes`` are given, and its hoisted norm."""
    v = F.col(side + "v")
    out = df.select(key, _as_double(F.col(vec_col)).alias(side + "v"))
    if planes is not None:
        out = out.withColumn("sig", rh_signature(v, planes))
    return out.withColumn(side + "n", norm2(v))


def _cosine_sim() -> Column:
    """Pre-normed float cosine of a (cv, cn) × (qv, qn) pair, rounded."""
    return F.round(
        cosine_prenorm(F.col("cv"), F.col("qv"), F.col("cn"), F.col("qn")), 6
    )


def _pairs(
    c: DataFrame, q: DataFrame, query_key: str, score: Column,
    on: str | None = None,
) -> DataFrame:
    """Candidate pairs: the corpus side × the broadcast query side — a
    cross join (brute force) or an equi-join on the bucket key ``on`` —
    self-matches excluded by key, scored into ``cosine_sim``."""
    joined = (
        c.crossJoin(F.broadcast(q)) if on is None
        else c.join(F.broadcast(q), on=on)
    )
    return joined.where(F.col("corpus_id") != F.col(query_key)).withColumn(
        "cosine_sim", score
    )


def _route(
    q: DataFrame, cents: DataFrame, query_key: str, n_probes: int,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """IVF router: each query's ``n_probes`` most cosine-similar centroids
    (tiny cross join — both sides small), as (query, *keep, cluster_id)."""
    routed = q.crossJoin(F.broadcast(cents)).withColumn(
        "csim", F.round(cosine(F.col("qv"), F.col("centroid")), 6)
    )
    return top_k_per_group(
        routed, [query_key], [F.desc("csim"), F.asc("cluster_id")], n_probes,
        rank_col="__rn",
    ).select(query_key, *keep, "cluster_id")


def _scope(
    corpus: DataFrame, predicate: Column | str | None, filter_mode: str
) -> tuple[Column | None, DataFrame]:
    """The ``filter_mode`` check: (the predicate as a Column, the corpus
    the posting lists are scanned from — pruned to eligible members for
    ``'pre'``)."""
    if filter_mode not in ("pre", "post"):
        raise ValueError(f"filter_mode must be 'pre' or 'post', got {filter_mode!r}")
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    if pred is not None and filter_mode == "pre":
        return pred, corpus.where(pred)
    return pred, corpus


def _post_filter(
    ranked: DataFrame, corpus: DataFrame, pred: Column | None,
    filter_mode: str, key_col: str,
) -> DataFrame:
    """``filter_mode='post'``: drop ineligible rows AFTER ranking."""
    if pred is None or filter_mode != "post":
        return ranked
    # ranks keep their unfiltered positions (gaps = the visible
    # under-fill artifact); keys-only semi join; AQE broadcasts it when
    # the eligible set is small (no forced hint — post-filter is the
    # documented-bad path and must not assume selectivity)
    return ranked.join(
        corpus.where(pred).select(F.col(key_col).alias("corpus_id")),
        "corpus_id",
        "left_semi",
    )


def _sq_side(
    df: DataFrame, vec_col: str, key_col: str, key_alias: str, side: str,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(key_alias, *keep, ``{side}c`` codes, ``{side}n2`` Σcode²) — one
    side of an SQ8 search (``sq_encode``)."""
    return sq_encode(df, vec_col, key_col, keep_cols=keep).select(
        F.col("key").alias(key_alias),
        *keep,
        F.col("codes").alias(side + "c"),
        F.col("sq_norm2").alias(side + "n2"),
    )


def _sq_cosine() -> Column:
    """Quantized cosine of a (cc, cn2) × (qc, qn2) pair: integer dot
    products, one final division (the per-vector scales cancel)."""
    dot = F.aggregate(
        F.zip_with(F.col("cc"), F.col("qc"), lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return F.when(
        (F.col("cn2") > 0) & (F.col("qn2") > 0),
        F.round(
            dot / F.sqrt(F.col("cn2").cast("double") * F.col("qn2").cast("double")),
            6,
        ),
    ).otherwise(F.lit(0.0))


# ----------------------------------------------------------- operators
def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_key: str = "query_id",
) -> DataFrame:
    """Brute-force exact top-k: for each query vector, the k most cosine-
    similar corpus vectors (self-matches excluded by key). Norms are
    hoisted into the per-side projections (computed once per vector, not
    per pair — see ``similarity.norm2``)."""
    c = _float_side(corpus, F.col(key_col).alias("corpus_id"), vec_col, "c")
    q = _float_side(queries, F.col(query_key), vec_col, "q")
    return _top_k(_pairs(c, q, query_key, _cosine_sim()), query_key, k)


def ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Deterministic centroids: the lowest-key vector of each label bucket.
    (Production: k-means means; deterministic pick keeps the oracle exact.)"""
    w = Window.partitionBy(label_col).orderBy(F.asc(key_col))
    return (
        corpus.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col(label_col).alias("cluster_id"),
            _as_double(F.col(vec_col)).alias("centroid"),
        )
    )


def assign_nearest(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment: every corpus vector gets the
    ``cluster_id`` of its highest-cosine centroid (ties → highest id, a
    deterministic total order). The centroid set is tiny and broadcast;
    the argmax is a map-side partial MAX over a (sim, id) struct, so the
    only shuffle carries (key, best-struct, vector) — at 100 TB this is
    the standard one-pass assignment scan."""
    c = corpus.select(
        F.col(key_col).alias("__k"), _as_double(F.col(vec_col)).alias("cv")
    )
    scored = c.crossJoin(F.broadcast(centroids)).withColumn(
        "csim", F.round(cosine(F.col("cv"), F.col("centroid")), 6)
    )
    best = scored.groupBy("__k").agg(
        F.max(F.struct(F.col("csim"), F.col("cluster_id"))).alias("best"),
        F.first("cv").alias("cv"),  # identical across the group
    )
    return best.select(
        F.col("__k").alias(key_col),
        F.col("best.cluster_id").alias("cluster_id"),
        "cv",
    )


def ivf_centroids_kmeans(
    corpus: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    label_col: str = "label",
    iterations: int = 1,
) -> DataFrame:
    """Lloyd-refined IVF centroids, seeded from the deterministic pick.

    Each iteration is the classic k-means step as two hash aggregations:
    assign every vector to its nearest centroid (``assign_nearest``), then
    recompute each centroid as the element-wise mean of its members
    (posexplode → per-(cluster, dim) AVG → re-assemble sorted by dim).
    Means are rounded to 6 decimals so the result is independent of
    partition-level summation order — the same determinism contract as
    every other operator here. Seeds are the deterministic lowest-key
    pick, so the whole refinement is reproducible run-to-run with no RNG
    state, while the refined centroids give the production-credible
    posting-list balance a raw first-vector pick can't (the balance test
    asserts this). At 100 TB each iteration is two shuffles of narrow
    rows — (cluster, dim, partial-sum) — never the corpus payload twice.

    A cluster that loses every member during reassignment (possible when
    two centroids coincide and the tie-break routes all shared vectors to
    one of them) KEEPS its previous centroid instead of silently dropping
    out — k never shrinks across iterations (classic k-means empty-cluster
    handling; asserted by test)."""
    cents = ivf_centroids(corpus, vec_col, key_col, label_col)
    for _ in range(iterations):
        assigned = assign_nearest(corpus, cents, vec_col, key_col)
        by_dim = assigned.select(
            "cluster_id", F.posexplode("cv").alias("pos", "val")
        )
        means = by_dim.groupBy("cluster_id", "pos").agg(
            F.round(F.avg("val"), 6).alias("val")
        )
        new_cents = means.groupBy("cluster_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))),
                lambda s: s["val"],
            ).alias("centroid")
        )
        cents = (
            cents.select("cluster_id", F.col("centroid").alias("__prev"))
            .join(new_cents, on="cluster_id", how="left")
            .select(
                "cluster_id",
                F.coalesce(F.col("centroid"), F.col("__prev")).alias("centroid"),
            )
        )
    return cents


def rh_planes(num_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 random-hyperplane components: component d of plane
    p is +1 iff the hex digit md5('p:d')[0] is even. Derived from md5 so
    any engine (and the DuckDB oracle) regenerates the identical planes —
    no shared RNG state, same trick as the minhash families."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def jl_project(vec: Column, planes: list[list[int]]) -> Column:
    """Johnson–Lindenstrauss random projection, Achlioptas ±1 variant:
    out[p] = round(vec · plane_p, 6) over the SAME md5-derived ±1 planes
    as ``rh_signature`` — the sign-bit LSH keeps only the sign of these
    dot products, this keeps their VALUES, giving a distance-preserving
    low-dimensional embedding (distortion 1±ε at out_dim = O(log n/ε²);
    Achlioptas 2001 shows the ±1 matrix obeys the JL lemma, no Gaussians
    needed — which is what makes the planes exactly mirrorable in SQL).
    Rounded to 6 decimals so every downstream score is engine-exact.

    Each component is one JVM-side zip_with/aggregate dot against a
    literal plane — no shuffle, no Python."""
    return F.array(*[F.round(_plane_dot(vec, plane), 6) for plane in planes])


def _plane_dot(vec: Column, plane: list[int]) -> Column:
    """vec · plane for a literal ±1 plane: one JVM-side zip_with dot."""
    return F.aggregate(
        F.zip_with(
            vec, F.array(*[F.lit(float(w)) for w in plane]), lambda x, y: x * y
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def random_project(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    out_dim: int,
    dim: int,
) -> DataFrame:
    """Replace ``vec_col`` with its ``out_dim``-dimensional JL projection
    (array<double>); every other column rides through untouched.

    At 100 TB this is THE shuffle-byte lever for the vector family: a
    1024-dim float corpus projected to 64 dims cuts every downstream
    pair join, posting-list build, and top-k aggregation 16× in vector
    bytes, at a recall cost that is measured (tests/test_ann_recall.py
    pins the floor on the fixture; DESIGN.md carries the numbers) —
    project once at ingest, keep the full-dim vectors at rest for the
    final re-rank."""
    if out_dim >= dim:
        raise ValueError(
            f"random_project: out_dim ({out_dim}) must be < dim ({dim})"
        )
    # NB: ``dim`` must equal the actual vector length — zip_with pads a
    # shorter plane with nulls and the projected component goes NULL
    # (same contract as rh_signature's planes; array length is not in
    # the schema, so it cannot be checked at plan time)
    return df.withColumn(
        vec_col, jl_project(_as_double(F.col(vec_col)), rh_planes(out_dim, dim))
    )


def rh_signature(vec: Column, planes: list[list[int]]) -> Column:
    """Sign-bit signature string: bit p = 1 iff vec · plane_p > 0. The
    planes are tiny literals, so each bit is one JVM-side zip_with dot."""
    return F.concat(
        *[
            F.when(_plane_dot(vec, plane) > 0, F.lit("1")).otherwise(F.lit("0"))
            for plane in planes
        ]
    )


def rh_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_key: str = "query_id",
) -> DataFrame:
    """Random-hyperplane LSH top-k: vectors sharing the query's sign
    signature are the candidate set; exact cosine ranks within the bucket.

    The 100 TB shape: the corpus signature is a narrow derived column the
    table is bucketed/partitioned by, so a query probes one bucket —
    ~|corpus|/2^planes vectors — instead of scanning everything. Approximate
    (recall < 1): a near neighbor on the far side of one hyperplane lands
    in another bucket — ``rh_multiprobe_topk`` recovers those by also
    probing every Hamming-distance-1 bucket.

    Measured recall@5 vs brute force (tests/test_ann_recall.py, sf0.01,
    8 planes): 0.00 single-probe on the near-isotropic synthetic corpus —
    the worst case for any space partitioner (true neighbors barely beat
    random); multi-probe lifts it to 0.08 there, and the same machinery
    reaches the usual 0.8+ on real clustered embeddings.
    """
    planes = rh_planes(num_planes, dim)
    c = _float_side(corpus, F.col(key_col).alias("corpus_id"), vec_col, "c", planes)
    q = _float_side(queries, F.col(query_key), vec_col, "q", planes)
    return _top_k(_pairs(c, q, query_key, _cosine_sim(), on="sig"), query_key, k)


def _flip_bits(sig: Column, positions, bits: int) -> Column:
    """The ``bits``-bit string ``sig`` with the given ascending 0-based
    bit positions toggled — one multi-probe variant of a sign-bit or
    SimHash signature."""
    parts = []
    prev = 0
    for pos in positions:
        parts.append(sig.substr(prev + 1, pos - prev))
        parts.append(
            F.when(sig.substr(pos + 1, 1) == "1", F.lit("0")).otherwise(F.lit("1"))
        )
        prev = pos + 1
    parts.append(sig.substr(prev + 1, bits - prev))
    return F.concat(*parts)


def rh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_key: str = "query_id",
) -> DataFrame:
    """Multi-probe random-hyperplane LSH top-k: each query probes its own
    signature bucket plus the ``num_planes`` buckets at Hamming distance 1
    (one sign bit flipped per probe), then exact cosine ranks the union.

    Recall recovery for the single-probe failure mode — a true neighbor on
    the far side of exactly one hyperplane (measured recall@5 0.08 vs 0.00
    single-probe on the adversarial near-isotropic sf0.01 corpus; the
    dominance multi-probe ≥ single-probe is asserted by
    tests/test_ann_recall.py). Probe cost grows from
    |corpus|/2^P to (1+P)·|corpus|/2^P per query while the corpus-side
    layout is unchanged (still ONE signature per vector, so the same
    bucketed/partitioned table serves single- and multi-probe readers).
    A (query, corpus) pair can match at most one probe signature (the
    corpus vector has a single signature), so no dedup is needed.
    """
    planes = rh_planes(num_planes, dim)
    c = _float_side(corpus, F.col(key_col).alias("corpus_id"), vec_col, "c", planes)
    q = _float_side(queries, F.col(query_key), vec_col, "q", planes)

    sig = F.col("sig")
    probes = F.array(
        sig, *[_flip_bits(sig, (j,), num_planes) for j in range(num_planes)]
    )
    qp = q.select(query_key, "qv", "qn", F.explode(probes).alias("sig"))
    return _top_k(_pairs(c, qp, query_key, _cosine_sim(), on="sig"), query_key, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    label_col: str = "label",
    query_key: str = "query_id",
    n_probes: int = 1,
    centroids: DataFrame | None = None,
    corpus_preassigned: bool = False,
    predicate: Column | str | None = None,
    filter_mode: str = "pre",
) -> DataFrame:
    """IVF probe: route each query to its ``n_probes`` nearest centroids,
    scan only those posting lists. Approximate (recall < 1 vs brute force)
    but the probe cost is n_probes·|corpus|/n_clusters — the 100 TB path.
    Multi-probe (n_probes > 1) recovers neighbors that live just across a
    cluster boundary; a (query, corpus) pair can match at most once since
    each corpus vector belongs to exactly one cluster. Measured recall@5
    vs brute force (tests/test_ann_recall.py, sf0.01 near-isotropic
    corpus — the hardest case for cluster pruning): 0.12 / 0.24 / 0.36 /
    0.52 / 0.72 / 0.88 at n_probes = 1 / 2 / 3 / 4 / 6 / 8 of the 10
    posting lists (n_probes = n_clusters ≡ brute force) — i.e. recall
    tracks the scanned corpus fraction p/n_clusters almost linearly on
    isotropic data, while clustered real embeddings front-load it. The
    test asserts these floors and that an extra probe never loses
    recall; pick n_probes per workload from that curve.

    Centroid modes: the default (``centroids=None``) uses the
    deterministic lowest-key pick with ``label_col`` posting lists — the
    oracle-exact mode the driver contract checks. Pass
    ``centroids=ivf_centroids_kmeans(corpus)`` for Lloyd-refined centroids
    with nearest-centroid posting lists — the production mode; the plan
    shape (broadcast route + pruned posting-list scan) is identical.

    ``corpus_preassigned=True`` (requires ``centroids``) declares that
    ``corpus`` IS a stored index already carrying ``cluster_id`` — the
    query-time path of an index maintained incrementally (see
    streaming/windows.py:stream_ann_ingest): no assignment scan runs,
    the posting lists are read as stored. The caller owns the contract
    that the stored assignments were produced by ``assign_nearest``
    against the SAME frozen centroid artifact — the versioned-artifact
    rule every stored index in this repo follows.

    Metadata-filtered search (``predicate``, a Column or SQL string
    over the CORPUS columns — language / license / source scoping; a
    real retrieval pipeline almost always carries one, cf. the
    reference's geocode composing a similarity join with a
    serviceability predicate, utils/geocode_utils.py:16-27):

    * ``filter_mode='pre'`` (default, the correct production shape):
      the predicate prunes posting-list MEMBERS before ranking, so the
      top-k is the true top-k of the eligible subset — k results come
      back whenever the probed lists hold ≥ k eligible candidates, and
      the scan cost DROPS with selectivity (the filter pushes into the
      posting-list scan). Routing still uses the SHARED index: the
      centroid artifact is derived from (or passed for) the FULL
      corpus, exactly like a stored index serving many differently-
      scoped queries — a per-predicate re-clustered index would be
      neither stored nor shared.
    * ``filter_mode='post'``: rank the unfiltered top-k first, then
      drop non-matching rows — the classic under-fill bug shipped as a
      contract: a selective predicate returns FEWER than k rows (often
      zero; ranks keep their unfiltered positions, so gaps in the
      sequence are the visible artifact). It exists so the trade is
      measurable against 'pre' (tests pin under-fill vs full-k on the
      same fixture); never the production path.
    """
    # centroid artifact derived BEFORE any predicate: routing uses the
    # shared full-corpus index, the filter scopes only list members
    pred, members = _scope(corpus, predicate, filter_mode)
    cents = centroids
    if cents is None:
        cents = ivf_centroids(corpus, vec_col, key_col, label_col)
    q = _float_side(queries, query_key, vec_col, "q")
    probe = _route(q, cents, query_key, n_probes, keep=("qv", "qn"))

    # scan only the probed cluster's posting list (partition-pruned at scale)
    if corpus_preassigned and centroids is None:
        raise ValueError(
            "corpus_preassigned requires the centroid artifact the "
            "stored assignments were built with"
        )
    if corpus_preassigned or centroids is None:
        # the stored index's cluster_id, else the label posting lists
        cluster = "cluster_id" if corpus_preassigned else label_col
        c = members.select(
            F.col(key_col).alias("corpus_id"),
            F.col(cluster).alias("cluster_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
    else:
        c = assign_nearest(members, cents, vec_col, key_col).select(
            F.col(key_col).alias("corpus_id"), "cluster_id", "cv"
        )
    c = c.withColumn("cn", norm2(F.col("cv")))
    scored = _pairs(c, probe, query_key, _cosine_sim(), on="cluster_id")
    return _post_filter(
        _top_k(scored, query_key, k), corpus, pred, filter_mode, key_col
    )


def ivfsq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    label_col: str = "label",
    query_key: str = "query_id",
    n_probes: int = 2,
    centroids: DataFrame | None = None,
    predicate: Column | str | None = None,
    filter_mode: str = "pre",
) -> DataFrame:
    """IVF routing × SQ8 scoring — the composed index whose posting
    lists store int8 CODES instead of floats (FAISS's IVF-SQ8): queries
    route to their ``n_probes`` nearest centroids exactly as
    ``ivf_topk`` (the centroid artifact is tiny and stays full-dim
    float), and within the probed lists the metric is the SQ8 quantized
    cosine — integer dot products, 8× fewer posting-list bytes. Where
    IVF-PQ compresses harder and loses more metric, IVF-SQ8 is the
    near-lossless middle rung: same routing recall curve as plain IVF
    (the candidate sets are identical), scoring within lists measured
    at 0.96 recall vs float on the worst-case fixture (``sq_topk``).

    Centroid modes mirror ``ivf_topk``: default = deterministic
    lowest-key centroids with ``label_col`` posting lists (the
    oracle-exact mode); pass k-means centroids for production.
    ``predicate``/``filter_mode`` carry the metadata-filtered-search
    contract, same semantics as ``ivf_topk`` (see its docstring):
    'pre' prunes posting-list members before the int8 scoring — the
    centroid artifact still derives from the full corpus — and 'post'
    exposes the under-fill trade."""
    pred, members = _scope(corpus, predicate, filter_mode)
    cents = centroids
    if cents is None:
        cents = ivf_centroids(corpus, vec_col, key_col, label_col)
    q = _float_side(queries, query_key, vec_col, "q")
    probe = _route(q, cents, query_key, n_probes).join(
        _sq_side(queries, vec_col, query_key, query_key, "q"), query_key
    )
    if centroids is None:
        assigned = members.select(
            F.col(key_col), F.col(label_col).alias("cluster_id"), vec_col
        )
    else:
        assigned = assign_nearest(members, cents, vec_col, key_col).select(
            F.col(key_col), "cluster_id", F.col("cv").alias(vec_col)
        )
    c = _sq_side(assigned, vec_col, key_col, "corpus_id", "c", ("cluster_id",))
    scored = _pairs(c, probe, query_key, _sq_cosine(), on="cluster_id")
    return _post_filter(
        _top_k(scored, query_key, k), corpus, pred, filter_mode, key_col
    )


# ----------------------------------------------------- product quantization
def sq_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """SQ8 scalar quantization (the FAISS ScalarQuantizer shape):
    per-vector symmetric int8 codes — code_i = floor(x_i / s · 127 +
    0.5) with s = max|x_i| — so a 64-dim float64 vector becomes 64
    bytes + one scale, an 8× at-rest / shuffle compression. floor(·+.5)
    instead of round(): identical half-up semantics in every engine,
    which is what makes the codes (and everything computed from them)
    bit-exact in the DuckDB twin.

    Quantized COSINE needs no scales at all: cos(x̂a, x̂b) =
    Σ(ca·cb) / √(Σca²·Σcb²) — the per-vector scales cancel — so scoring
    is integer dot products until one final division (``sq_topk``).

    Zero vectors encode to all-zero codes (guarded — ANSI mode would
    otherwise overflow on x/0 = ±Inf).

    Returns (key, codes array<int>, sq_norm2 long = Σcode² hoisted once
    per vector, *keep_cols ridden through — so an index build carries
    its cluster assignment in the SAME scan)."""
    v = _as_double(F.col(vec_col))
    s = F.array_max(F.transform(v, lambda x: F.abs(x)))
    codes = F.when(
        s > 0,
        F.transform(
            v, lambda x: F.floor(x / s * 127 + F.lit(0.5)).cast("int")
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(key_col).alias("key"), codes.alias("codes"),
        *[F.col(c) for c in keep_cols],
    ).withColumn(
        "sq_norm2",
        F.aggregate(
            F.col("codes"),
            F.lit(0).cast("long"),
            lambda acc, c: acc + (c * c).cast("long"),
        ),
    )


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_key: str = "query_id",
) -> DataFrame:
    """Brute-force top-k over SQ8 codes: both sides quantized
    (symmetric), scored by integer dot products — ~8× fewer vector
    bytes through the scan/broadcast than ``cosine_topk`` with a
    near-lossless metric (quantization noise ≪ neighbor margins even on
    the near-isotropic fixture; tests/test_ann_recall.py pins the
    recall). Same shape as the float baseline: corpus scan ×
    broadcast(queries), window top-k, ties broken by corpus id."""
    c = _sq_side(corpus, vec_col, key_col, "corpus_id", "c")
    q = _sq_side(queries, vec_col, query_key, query_key, "q")
    return _top_k(_pairs(c, q, query_key, _sq_cosine()), query_key, k)


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance, left-fold summation (deterministic order both
    engines: zip_with pairs in index order, aggregate folds left)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subspaces(vec: Column, num_subspaces: int, dim: int) -> Column:
    """Array of (m, subvec) structs — vector split into equal slices."""
    if dim % num_subspaces:
        raise ValueError(
            f"num_subspaces ({num_subspaces}) must divide dim ({dim})"
        )
    sub = dim // num_subspaces
    return F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(vec, m * sub + 1, sub).alias("sv"),
            )
            for m in range(num_subspaces)
        ]
    )


def pq_codebooks(
    corpus: DataFrame,
    num_subspaces: int = 8,
    num_codes: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization codebooks: per subspace ``m``, ``num_codes``
    code vectors — deterministically seeded from the ``num_codes``
    lowest-key corpus vectors' subvectors (the same oracle-exact seeding
    trick as ``ivf_centroids``; production swaps in per-subspace k-means,
    plan shape unchanged). The seed fetch is a TakeOrdered (no full
    sort); the ≤ ``num_codes`` seeds are numbered in key order by one
    posexplode of their sorted list (no single-partition window); the
    codebook is ≤ M·K tiny rows — always broadcast."""
    seeds = (
        corpus.select(
            F.col(key_col).alias("__k"), _as_double(F.col(vec_col)).alias("v")
        )
        .orderBy(F.asc("__k"))
        .limit(num_codes)
        .agg(F.array_sort(F.collect_list(F.struct("__k", "v"))).alias("__s"))
        .select(F.posexplode("__s").alias("code", "seed"))
    )
    return seeds.select(
        "code",
        F.explode(_subspaces(F.col("seed.v"), num_subspaces, dim)).alias("s"),
    ).select(F.col("s.m").alias("m"), "code", F.col("s.sv").alias("sv"))


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    num_subspaces: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector as ``num_subspaces`` small codes: per subspace
    the argmin-L2 code (ties → lowest code id, via min over a (dist,
    code) struct — a deterministic total order). Returns ``(key, codes
    array<int>)`` — the compressed representation: M bytes-ish per
    vector instead of dim doubles (dim·8/M× smaller), which is what lets
    a 100 TB corpus's index live in memory. Plan: explode to (key, m)
    subvectors, broadcast-join the codebook, one (key, m) argmin agg +
    one (key) reassembly agg — narrow rows throughout, no vector
    payload past the first join."""
    sub = corpus.select(
        F.col(key_col).alias("__k"),
        F.explode(
            _subspaces(_as_double(F.col(vec_col)), num_subspaces, dim)
        ).alias("s"),
    ).select("__k", F.col("s.m").alias("m"), F.col("s.sv").alias("xv"))
    scored = sub.join(F.broadcast(codebooks), on="m").withColumn(
        "d", _l2sq(F.col("xv"), F.col("sv"))
    )
    best = scored.groupBy("__k", "m").agg(
        F.min(F.struct(F.col("d"), F.col("code"))).alias("b")
    )
    return best.groupBy("__k").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", F.col("b.code").alias("c")))),
            lambda s: s["c"],
        ).alias("codes")
    ).select(F.col("__k").alias(key_col), "codes")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_subspaces: int = 8,
    num_codes: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_key: str = "query_id",
) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC): approx_dist(q, x) =
    Σ_m L2²(q_m, codebook[m][code_m(x)]) — each query computes one M×K
    distance table against the broadcast codebook, then scores every
    ENCODED corpus row by table lookup: the corpus's float vectors are
    never touched at query time, only the M-code representation. Ranks
    ascending by distance (ties → lowest corpus id), rounded to 6
    decimals; the per-pair sum folds the M partial distances in m-order
    so both engines add the same doubles in the same order.

    The 100 TB shape: encode once (an index build, like the IVF
    assignment); the query-time joins move only (key, m, code) rows and
    the broadcast table. Compose with IVF routing (encode per posting
    list) for IVF-PQ. Returns (query, corpus_id, approx_dist, rank)."""
    return _pq_topk(
        corpus, queries, k, num_subspaces, num_codes, dim, vec_col, key_col,
        query_key,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_subspaces: int = 8,
    num_codes: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    label_col: str = "label",
    query_key: str = "query_id",
    n_probes: int = 1,
) -> DataFrame:
    """IVF-PQ: the two approximations composed the way a production ANN
    index ships them — IVF routing prunes WHICH rows are scored
    (n_probes posting lists instead of the corpus), PQ codes prune WHAT
    is read per row (M codes instead of dim floats). Query cost is
    n_probes·|corpus|/n_clusters code-rows + the broadcast M×K distance
    table; the corpus floats are touched only at index build. The test
    asserts the result equals ``pq_topk`` restricted to the probed
    posting lists — routing changes candidate sets, never scores."""
    cents = ivf_centroids(corpus, vec_col, key_col, label_col)
    probe = _route(
        _float_side(queries, query_key, vec_col, "q"), cents, query_key, n_probes
    )
    return _pq_topk(
        corpus, queries, k, num_subspaces, num_codes, dim, vec_col, key_col,
        query_key, probe, label_col,
    )


def _pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    num_subspaces: int,
    num_codes: int,
    dim: int,
    vec_col: str,
    key_col: str,
    query_key: str,
    probe: DataFrame | None = None,
    label_col: str = "label",
) -> DataFrame:
    """Both PQ operators: encode the corpus, build each query's M×K
    distance table against the broadcast codebook, join the codes to it
    — through the routed (query, cluster_id) ``probe`` over the
    ``label_col`` posting lists when IVF-PQ passes one — and fold the
    ADC sum."""
    cb = pq_codebooks(corpus, num_subspaces, num_codes, dim, vec_col, key_col)
    enc = pq_encode(corpus, cb, num_subspaces, dim, vec_col, key_col)
    qsub = queries.select(
        F.col(query_key),
        F.explode(
            _subspaces(_as_double(F.col(vec_col)), num_subspaces, dim)
        ).alias("s"),
    ).select(query_key, F.col("s.m").alias("m"), F.col("s.sv").alias("qv"))
    dtable = qsub.join(F.broadcast(cb), on="m").select(
        query_key, "m", "code", _l2sq(F.col("qv"), F.col("sv")).alias("d")
    )
    keys = []
    if probe is not None:
        enc = enc.join(
            corpus.select(F.col(key_col), F.col(label_col).alias("cluster_id")),
            on=key_col,
        ).join(F.broadcast(probe), on="cluster_id")
        keys = [query_key]
    pairs = (
        enc.select(
            F.col(key_col).alias("corpus_id"),
            *keys,
            F.posexplode("codes").alias("m", "code"),
        )
        .join(F.broadcast(dtable), on=[*keys, "m", "code"])
        .where(F.col("corpus_id") != F.col(query_key))
    )
    # ADC: the M looked-up partial distances folded in m-order, so both
    # engines add the same doubles in the same order
    approx = pairs.groupBy(query_key, "corpus_id").agg(
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "d"))),
                    lambda s: s["d"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("approx_dist")
    )
    return _top_k(approx, query_key, k, "approx_dist", ascending=True)


# ------------------------------------------------- embedding generation
def hash_projection_encoder(dim: int = 32):
    """Default deterministic document encoder: the feature-hashing trick
    (token → md5 bucket, ± sign from a hash digit — Weinberger et al.'s
    hashing trick, the standard no-model text vectorizer). Returns a
    callable ``list[str] -> list[list[float]]`` so a real model (a
    sentence-transformer behind a batch endpoint) drops in with no plan
    change — the same injectable-callable seam as ``enrich.gateway``.

    Bucket values are small integers (exact in double), so downstream
    cosine math is bit-deterministic across engines and partitionings —
    the property the DuckDB oracle relies on."""
    import hashlib
    import re

    def encode(texts: list[str]) -> list[list[float]]:
        out = []
        for text in texts:
            v = [0.0] * dim
            for t in re.split(r"\s+", (text or "").strip()):
                if not t:
                    continue
                h = hashlib.md5(t.encode("utf-8")).hexdigest()
                b = int(h[:12], 16) % dim
                v[b] += 1.0 if int(h[12], 16) % 2 == 0 else -1.0
            out.append(v)
        return out

    return encode


def encode_documents(
    df: DataFrame,
    dim: int = 32,
    text_col: str = "text",
    key_col: str = "doc_id",
    encoder=None,
) -> DataFrame:
    """Embedding-generation stage: documents → vectors via ONE
    Arrow-batched ``mapInPandas`` crossing (the only Python boundary —
    encoding is genuinely external work), completing the corpus → vectors
    → ANN pipeline end-to-end. Output schema matches the ``embeddings``
    table shape (key + ``array<double>``), so every ANN operator above
    consumes it directly.

    At 100 TB: narrow (no shuffle) — each partition encodes its own rows
    and the text bytes never move; batch size is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    enc = encoder if encoder is not None else hash_projection_encoder(dim)
    src = df.select(
        F.col(key_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "embedding": enc(list(pdf["text"])),
                }
            )

    return src.mapInPandas(run, schema)
