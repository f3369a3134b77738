"""Entity resolution (record linkage): blocking → multi-field fuzzy
scoring → connected components → survivorship (golden records).

The reference deduplicates users by EXACT key only (MERGE on id,
`/root/reference/core/extract/helpers/extractor_bq_helpers.py:159-169`);
real helpdesk/CRM corpora carry the same customer under re-typed names,
reformatted phones, and truncated addresses. This module is the
content-granularity lift for RECORDS, exactly as SemDeDup/MinHash are
for documents — and it reuses the engine's pair machinery end to end
(``dedup.connected_components`` for clustering).

Everything is engine-exact integer arithmetic (milli-scores, floor
divisions) and deterministic survivorship rules, so the DuckDB twin
reproduces golden records bit-for-bit.

At 100 TB: pairs are generated only WITHIN blocks (the classic ER
blocking bound — no block, no pair), the pair relation carries keys and
small ints only, clustering shuffles (node, label) pairs, and the
golden-record aggregation is one groupBy(entity) over the records
relation. Oversized blocks are refused loudly (``max_block``) rather
than silently exploding — the same degrade-to-no-evidence contract the
LSH bucket caps follow.
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import connected_components, lineage_cut

# survivorship strategies — every one a deterministic aggregate:
#   first_by_key: the value carried by the entity's lowest record key
#   min / max:    plain extrema (SQL semantics: NULLs ignored)
#   longest:      max by (length, value) — the padded-string encoding
#                 makes the composite ordering one comparable value
SURVIVORSHIP = ("first_by_key", "min", "max", "longest")


def _norm_tokens(col):
    """Lowercased distinct whitespace tokens — the name-comparison
    universe. array_distinct AFTER lower() so case variants collapse;
    NULL names become the empty token set, not a NULL that poisons the
    score arithmetic."""
    return F.coalesce(
        F.array_distinct(
            F.filter(
                F.split(F.lower(F.trim(col)), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ),
        F.array().cast("array<string>"),
    )


def _digits(col):
    """Phone normalization: digits only — '25-989-741' == '25989741'.
    NULL phones normalize to '' (no phone evidence), never NULL."""
    return F.coalesce(F.regexp_replace(col, r"[^0-9]", ""), F.lit(""))


def _block_cols(block_col) -> list[str]:
    """Normalize the blocking spec: one column name, or a sequence of
    column names for MULTI-PASS blocking (candidate pairs are the UNION
    over the passes — the standard fix for the single-dirty-key miss,
    where a typo'd block value hides a true match forever; the
    reference's own user matching keys on THREE id columns,
    /root/reference/core/TicketMessageProcessor.py:24-37)."""
    cols = [block_col] if isinstance(block_col, str) else list(block_col)
    if not cols:
        raise ValueError("entity blocking needs at least one column")
    return cols


def _prep(
    records: DataFrame,
    key_col: str,
    block_cols: list[str],
    name_col: str,
    phone_col: str,
) -> DataFrame:
    """(bk0..bkN, k, toks, ph) comparison projection shared by the batch
    and incremental pair generators — one normalization, two callers."""
    return records.select(
        *[F.col(c).alias(f"bk{i}") for i, c in enumerate(block_cols)],
        F.col(key_col).alias("k"),
        _norm_tokens(F.col(name_col)).alias("toks"),
        _digits(F.col(phone_col)).alias("ph"),
    )


def _guard_blocks(
    records: DataFrame,
    block_cols: list[str],
    max_block: int,
    delta: DataFrame | None = None,
) -> None:
    """Loud refusal for degenerate blocking keys (the ER scale contract):
    ONE scan of the record relation regardless of pass count — each row
    posexplodes into its (pass, block-value) memberships and a single
    groupBy bounds every pass's blocks at once (the round-10 per-pass
    loop ran B count-aggregate scans before any pairing). Values are
    compared after a string cast, which is injective within a pass (all
    values of one pass come from one column of one atomic type), so the
    per-pass counts are exactly the per-column groupBy's. One bounded
    action, never a data collect; the refusal message still names the
    offending pass's COLUMN (the posexplode index maps back to it).

    NULL block values never equi-join — they generate no pairs — so
    they are exempt from the bound (a multi-pass key is ALLOWED to be
    absent on most records; e.g. a phone-prefix pass over a corpus
    where half the phones are missing must not refuse on the "no phone"
    group).

    With ``delta``, only (pass, block) groups the delta inhabits are
    counted: blocks no delta record touches generate no NEW pairs this
    ingest (they were guarded when they were built), so the per-ingest
    groupBy aggregates the delta's block neighborhood, not the standing
    corpus."""

    def _memberships(df: DataFrame) -> DataFrame:
        arr = F.array(*[F.col(c).cast("string") for c in block_cols])
        return df.select(
            F.posexplode(arr).alias("p", "bk")
        ).where(F.col("bk").isNotNull())

    src = _memberships(records)
    if delta is not None:
        dbk = _memberships(delta).distinct()
        src = src.join(F.broadcast(dbk), ["p", "bk"], "left_semi")
    oversized = (
        src.groupBy("p", "bk")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > max_block)
        .limit(1)
        .collect()
    )
    if oversized:
        r = oversized[0]
        raise ValueError(
            f"entity_pairs: block {block_cols[r['p']]}={r['bk']!r} has "
            f"{r['n']} records (max_block={max_block}) — refine the "
            "blocking key"
        )


def _scored(
    joined: DataFrame, name_weight: int, phone_weight: int
) -> DataFrame:
    """Attach jac + score_milli to a (toks_a, ph_a, toks_b, ph_b) join."""
    union = F.size(F.array_union("toks_a", "toks_b"))
    jac_milli = F.when(
        union > 0,
        F.expr(
            "1000 * size(array_intersect(toks_a, toks_b))"
            " div size(array_union(toks_a, toks_b))"
        ),
    ).otherwise(F.lit(0))
    phone_eq = (
        (F.col("ph_a") != F.lit(""))
        & (F.col("ph_b") != F.lit(""))
        & (F.col("ph_a") == F.col("ph_b"))
    ).cast("long")
    score = (
        F.lit(phone_weight) * phone_eq
        + F.expr(f"{name_weight} * jac div 1000")
    )
    return joined.withColumn("jac", jac_milli).withColumn(
        "score_milli", score
    )


def entity_pairs(
    records: DataFrame,
    key_col: str = "rec_id",
    block_col: str | Sequence[str] = "block_key",
    name_col: str = "name",
    phone_col: str = "phone",
    *,
    name_weight: int = 500,
    phone_weight: int = 500,
    threshold_milli: int = 450,
    max_block: int = 10_000,
) -> DataFrame:
    """Candidate pairs with an integer match score.

    Score spec (fixed, engine-exact):
      jac_milli  = 1000·|A∩B| // |A∪B| over lowercased distinct name
                   tokens (0 when either side is empty),
      phone_eq   = 1 iff both digit-normalized phones are non-empty and
                   equal,
      score      = phone_weight·phone_eq + name_weight·jac_milli // 1000.

    Pairs are emitted only within ``block_col`` groups with
    ``key_col``(a) < ``key_col``(b) and score ≥ ``threshold_milli``.
    ``block_col`` may be a LIST of columns — multi-pass blocking: each
    pass generates candidates within its own column's groups and the
    union is scored once (a pair found by several passes is scored
    once; a NULL block value simply skips that pass for that record).
    A block larger than ``max_block`` raises (per pass) — blocking is
    the ER scale contract, and a degenerate block key (one giant block)
    must fail loudly, not run |block|² quietly.

    Returns (id_a, id_b, score_milli).
    """
    blocks = _block_cols(block_col)
    _guard_blocks(records, blocks, max_block)
    base = _prep(records, key_col, blocks, name_col, phone_col)
    # each pass scores INSIDE its own block join (the single-pass shape,
    # repeated), so the threshold prunes before anything crosses passes:
    # the cross-pass distinct then dedupes only SURVIVING pairs. The
    # rejected alternative — keys-only candidates unioned, deduped, then
    # arrays attached — shuffles the full pre-threshold candidate set
    # (|block|²-scale) three times and measured 1.5×-per-unit at 64×;
    # a pair co-blocked by several passes being scored once per pass is
    # the cheap side of that trade (the score is deterministic, so
    # distinct on (id_a, id_b, score) dedupes exactly).
    scored = None
    for i in range(len(blocks)):
        a = base.select(
            F.col(f"bk{i}").alias("bk"),
            F.col("k").alias("id_a"),
            F.col("toks").alias("toks_a"),
            F.col("ph").alias("ph_a"),
        )
        b = base.select(
            F.col(f"bk{i}").alias("bk"),
            F.col("k").alias("id_b"),
            F.col("toks").alias("toks_b"),
            F.col("ph").alias("ph_b"),
        )
        p = a.join(b, "bk").where(F.col("id_a") < F.col("id_b"))
        s = (
            _scored(p, name_weight, phone_weight)
            .where(F.col("score_milli") >= threshold_milli)
            .select("id_a", "id_b", "score_milli")
        )
        scored = s if scored is None else scored.unionByName(s)
    return scored if len(blocks) == 1 else scored.distinct()


def resolve_entities(
    records: DataFrame,
    key_col: str = "rec_id",
    block_col: str | Sequence[str] = "block_key",
    name_col: str = "name",
    phone_col: str = "phone",
    *,
    name_weight: int = 500,
    phone_weight: int = 500,
    threshold_milli: int = 450,
    max_block: int = 10_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Record → entity assignment: ``entity_pairs`` evidence through
    connected components; records with no pair form singleton entities.
    entity_id = the minimum record key in the component (the same
    canonical-min convention every dedup cluster in this repo uses).

    Returns (``key_col``, entity_id, n_records).
    """
    pairs = entity_pairs(
        records,
        key_col,
        block_col,
        name_col,
        phone_col,
        name_weight=name_weight,
        phone_weight=phone_weight,
        threshold_milli=threshold_milli,
        max_block=max_block,
    )
    cc = connected_components(
        pairs.select("id_a", "id_b"), checkpoint_dir=checkpoint_dir
    )
    assigned = (
        records.select(F.col(key_col))
        .join(cc, records[key_col] == cc["node"], "left")
        .select(
            F.col(key_col),
            F.coalesce("cluster_id", F.col(key_col)).alias("entity_id"),
        )
    )
    sizes = assigned.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_records")
    )
    return assigned.join(sizes, "entity_id").select(
        key_col, "entity_id", "n_records"
    )


def incremental_resolve_entities(
    corpus: DataFrame,
    delta: DataFrame,
    *,
    corpus_assignment: DataFrame,
    key_col: str = "rec_id",
    block_col: str | Sequence[str] = "block_key",
    name_col: str = "name",
    phone_col: str = "phone",
    name_weight: int = 500,
    phone_weight: int = 500,
    threshold_milli: int = 450,
    max_block: int = 10_000,
    checkpoint_dir: str | None = None,
    emit: str = "all",
    check_overlap: bool = True,
) -> DataFrame:
    """Delta-vs-corpus entity resolution — the recurring-ingest shape for
    records, same contract family as ``incremental_minhash_dedup`` /
    ``incremental_hamming_pairs``: score only pairs with a DELTA
    endpoint, never regenerate corpus×corpus evidence, and reuse the
    STORED corpus assignment as the summary of everything already
    resolved.

    Exactness (what the oracle checks — the full-batch assignment, not
    a restriction): the result equals ``resolve_entities(corpus ∪
    delta)`` verbatim. Proof sketch: pair candidacy is per-record
    (blocking key and comparison fields are functions of one record),
    so the full pair graph is (corpus×corpus pairs) ∪ (delta-involved
    pairs); the stored assignment's star edges (rec → entity_id, one
    per non-canonical record) have exactly the connectivity of the
    corpus×corpus pairs — each resolved entity is a connected star, no
    edge crosses entities — so components over star ∪ delta-involved
    equal components over the full graph. Labels are preserved too:
    entity ids are component-minimum record keys, the star keeps each
    old minimum in its component, and a delta record that BRIDGES two
    old entities re-labels the merged component to the smaller minimum
    — exactly what the batch run would do (the one behavior a naive
    "assign delta to nearest existing entity" incremental ER gets
    wrong).

    A delta key already present in the corpus raises (re-ingest is the
    MERGE/supersede path of the sink family, not this operator's).
    ``check_overlap=False`` skips that probe — for callers that already
    anti-joined the batch against the record table (the streaming path
    does), the probe is a redundant second corpus-key scan per ingest.
    The check must read the RECORDS relation, not ``corpus_assignment``:
    after a crash between the assignment MERGE and the record MERGE, a
    replayed batch's keys legitimately sit in the stored assignment (the
    left-anti drop below handles them) while true re-ingest means the
    key is in the record table — an assignment-based probe cannot tell
    the two apart and would refuse exactly the replay it must tolerate.
    The block-size refusal is evaluated on corpus ∪ delta but only over
    blocks the DELTA inhabits (untouched blocks generate no new pairs
    this ingest and were guarded when they were built), so the guard's
    groupBy aggregates the delta's block neighborhood, not the standing
    corpus.

    At 100 TB: per ingest this scores |delta-involved block pairs| —
    corpus-side work is ONE semi-join of the prep projection against
    the delta's block keys — and the CC runs only over TOUCHED
    components: star edges are semi-join-pruned to entities adjacent
    to a new pair endpoint (the ER analog of the semantic family's
    hot-cluster prune), every other stored assignment row is carried
    through verbatim, so ingest cost tracks the delta's neighborhood,
    not the standing corpus (tools/measure.py smoke er measures it).
    Exactness is unaffected: a component no delta pair touches keeps
    exactly its stored label and size in the full-batch answer.
    ``corpus_assignment`` must be the output of a previous
    ``resolve_entities`` / this function (its ``n_records`` are carried
    for untouched components).

    ``emit='all'`` (default) returns the full corpus ∪ delta assignment
    — the oracle-checked contract, whose cost has an unavoidable linear
    term (one scan of the stored assignment to carry untouched rows).
    ``emit='changed'`` returns only the recomputed rows (delta ∪
    touched components) — the streaming/MERGE shape, whose cost tracks
    the delta's neighborhood alone: MERGEing it over the stored table
    yields exactly the ``'all'`` relation (untouched rows are already
    stored and recomputed rows are keyed by ``key_col``).

    Returns (``key_col``, entity_id, n_records).
    """
    if emit not in ("all", "changed"):
        raise ValueError(f"emit must be 'all' or 'changed', got {emit!r}")
    if check_overlap:
        overlap = (
            corpus.select(F.col(key_col))
            .join(F.broadcast(delta.select(F.col(key_col))), key_col)
            .limit(1)
            .collect()
        )
        if overlap:
            raise ValueError(
                f"incremental_resolve_entities: delta key "
                f"{overlap[0][key_col]!r} already exists in the corpus — "
                "re-ingest goes through the sink MERGE path, not delta ER"
            )
    blocks = _block_cols(block_col)
    allrecs = corpus.unionByName(delta)
    _guard_blocks(allrecs, blocks, max_block, delta=delta)

    dp = _prep(delta, key_col, blocks, name_col, phone_col)
    # corpus-side normalization is DEFERRED until after a narrow
    # neighborhood semi-join: the token-split/regex projection is the
    # expensive part of the corpus scan (measured — the round-11 64×
    # streaming smoke's residual linear term was exactly `_prep` over
    # every standing record per ingest), and only records in the
    # delta's block/candidate neighborhood can pair, so the full-corpus
    # pass touches just the raw block/key columns (cheap comparisons)
    # and the feature expressions run once per SURVIVING record.
    if len(blocks) == 1:
        # delta side probes only blocks it inhabits — the corpus-side
        # scan is block-semi-joined down BEFORE the feature projection
        a = dp.select(
            F.col("bk0").alias("bk"),
            F.col("k").alias("id_a"),
            F.col("toks").alias("toks_a"),
            F.col("ph").alias("ph_a"),
        )
        dbk = dp.select(F.col("bk0").alias("__dbk")).distinct()
        neighborhood = allrecs.join(
            F.broadcast(dbk),
            F.col(blocks[0]) == F.col("__dbk"),
            "left_semi",
        )
        b = _prep(neighborhood, key_col, blocks, name_col, phone_col).select(
            F.col("bk0").alias("bk"),
            F.col("k").alias("id_b"),
            F.col("toks").alias("toks_b"),
            F.col("ph").alias("ph_b"),
        )
        probed = b.join(F.broadcast(a), "bk").where(
            F.col("id_a") != F.col("id_b")
        )
    else:
        # multi-pass: each pass is a KEYS-ONLY broadcast probe of the
        # raw block/key columns (narrow scan per pass — no feature
        # expressions), candidates deduped across passes once, then the
        # comparison arrays attach via ONE broadcast join against the
        # feature projection of ONLY the candidate records (semi-joined
        # down first — normalization runs per surviving record, never
        # per standing-corpus record)
        cand = None
        for i in range(len(blocks)):
            pi = (
                allrecs.select(
                    F.col(blocks[i]).alias("bk"),
                    F.col(key_col).alias("id_b"),
                )
                .where(F.col("bk").isNotNull())
                .join(
                    F.broadcast(
                        dp.select(
                            F.col(f"bk{i}").alias("bk"),
                            F.col("k").alias("id_a"),
                        )
                    ),
                    "bk",
                )
                .where(F.col("id_a") != F.col("id_b"))
                .select("id_a", "id_b")
            )
            cand = pi if cand is None else cand.unionByName(pi)
        cand = cand.distinct()
        cand_a = cand.join(
            F.broadcast(
                dp.select(
                    F.col("k").alias("id_a"),
                    F.col("toks").alias("toks_a"),
                    F.col("ph").alias("ph_a"),
                )
            ),
            "id_a",
        )
        # feature projection over the candidate records only
        cand_recs = allrecs.join(
            F.broadcast(cand.select(F.col("id_b").alias("__ck")).distinct()),
            F.col(key_col) == F.col("__ck"),
            "left_semi",
        )
        probed = _prep(cand_recs, key_col, blocks, name_col, phone_col).select(
            F.col("k").alias("id_b"),
            F.col("toks").alias("toks_b"),
            F.col("ph").alias("ph_b"),
        ).join(F.broadcast(cand_a), "id_b")
    new_pairs = (
        _scored(probed, name_weight, phone_weight)
        .where(F.col("score_milli") >= threshold_milli)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    # the pair plan feeds three consumers (endpoint probe, CC union,
    # and CC's own symmetrize) — materialize it once
    new_pairs = lineage_cut(new_pairs, checkpoint_dir, eager=True)
    # tolerate a half-done streaming state: a crash between the
    # assignment MERGE and the record MERGE replays a batch whose keys
    # already sit in the stored assignment — drop those rows (their
    # evidence is recomputed in full below; keeping them would put the
    # same key on both the carried and recomputed sides)
    corpus_assignment = corpus_assignment.join(
        F.broadcast(delta.select(F.col(key_col))), key_col, "left_anti"
    )
    # touched-component prune: only components ADJACENT to a delta pair
    # can change, so the CC graph is (new pairs ∪ star edges of touched
    # entities) and every other stored row rides through verbatim
    endpoints = (
        new_pairs.select(F.col("id_a").alias("__n"))
        .unionByName(new_pairs.select(F.col("id_b").alias("__n")))
        .distinct()
    )
    touched = (
        corpus_assignment.join(
            F.broadcast(endpoints), corpus_assignment[key_col] == F.col("__n")
        )
        .select("entity_id")
        .distinct()
    )
    touched_rows = corpus_assignment.join(
        F.broadcast(touched), "entity_id", "left_semi"
    )
    star_touched = touched_rows.where(
        F.col(key_col) != F.col("entity_id")
    ).select(
        F.col(key_col).alias("id_a"), F.col("entity_id").alias("id_b")
    )
    cc = connected_components(
        new_pairs.unionByName(star_touched), checkpoint_dir=checkpoint_dir
    )
    need = (
        delta.select(F.col(key_col))
        .unionByName(touched_rows.select(F.col(key_col)))
    )
    assigned = (
        need.join(
            F.broadcast(cc.select("node", "cluster_id")),
            F.col(key_col) == F.col("node"),
            "left",
        )
        .select(
            F.col(key_col),
            F.coalesce("cluster_id", F.col(key_col)).alias("entity_id"),
        )
    )
    sizes = assigned.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_records")
    )
    changed = assigned.join(F.broadcast(sizes), "entity_id").select(
        key_col, "entity_id", "n_records"
    )
    if emit == "changed":
        return changed
    untouched_rows = corpus_assignment.join(
        F.broadcast(touched), "entity_id", "left_anti"
    ).select(key_col, "entity_id", "n_records")
    return changed.unionByName(untouched_rows)


def golden_records(
    records: DataFrame,
    assignment: DataFrame,
    key_col: str = "rec_id",
    *,
    rules: dict[str, str],
) -> DataFrame:
    """Survivorship: one golden record per entity, each field chosen by
    its rule (see ``SURVIVORSHIP``). ``longest`` breaks length ties by
    value (max), so every rule is a total-order aggregate — the round-4
    lesson (a survivorship rule that is not a total order is an
    engine-dependent golden record).

    Returns (entity_id, n_records, <one column per rule key>).
    """
    for col, rule in rules.items():
        if rule not in SURVIVORSHIP:
            raise ValueError(f"unknown survivorship rule {rule!r} for {col}")
    j = records.join(assignment, key_col)
    aggs = [F.count(F.lit(1)).alias("n_records")]
    for col, rule in rules.items():
        if rule == "first_by_key":
            aggs.append(F.min_by(F.col(col), F.col(key_col)).alias(col))
        elif rule == "min":
            aggs.append(F.min(col).alias(col))
        elif rule == "max":
            aggs.append(F.max(col).alias(col))
        else:  # longest: max of '<len08>|<value>', decoded after the agg
            enc = F.concat(
                F.lpad(F.length(col).cast("string"), 8, "0"),
                F.lit("|"),
                F.col(col),
            )
            aggs.append(F.max(enc).alias(f"__enc_{col}"))
    out = j.groupBy("entity_id").agg(*aggs)
    for col, rule in rules.items():
        if rule == "longest":
            out = out.withColumn(
                col, F.substring(F.col(f"__enc_{col}"), 10, 1_000_000)
            ).drop(f"__enc_{col}")
    return out
