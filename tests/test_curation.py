"""Composed curation pipeline: the six-stage chain's ledger invariants
plus the paragraph-dedup text-rewrite contract it rides on.

The per-operator oracles can't see composition bugs (a stage consuming
the wrong intermediate, a filter applied twice, tokens recounted on the
wrong text) — these tests pin the cross-stage invariants the ledger must
satisfy on ANY corpus, complementing the value-exact DuckDB twin in
plans/pipeline.py:_curation_sql.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mgo_liveagent_data_pipeline_spark.plans.pipeline import (
    CURATION_SCORED_DSIR_K,
    q_curation_pipeline,
    q_curation_scored_pipeline,
    q_curation_semantic_pipeline,
)

SF_DIR = "/root/testdata/sf0.001"


# each chain runs once per module; its tests share the collected ledger
def _ledger(spark, chain) -> dict:
    return {r["stage"]: r for r in chain(spark, SF_DIR).collect()}


@pytest.fixture(scope="module")
def curation_ledger(spark):
    return _ledger(spark, q_curation_pipeline)


@pytest.fixture(scope="module")
def semantic_ledger(spark):
    return _ledger(spark, q_curation_semantic_pipeline)


@pytest.fixture(scope="module")
def scored_ledger(spark):
    return _ledger(spark, q_curation_scored_pipeline)


def test_paragraph_dedup_emit_text_matches_hash(spark):
    """The emitted rewrite IS the preimage of dedup_hash — the contract
    that lets the composed pipeline feed stage 2's output onward while
    the standalone member keeps hash-comparing."""
    from mgo_liveagent_data_pipeline_spark.operators.textops import paragraph_dedup
    from mgo_liveagent_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    out = paragraph_dedup(docs, "text", "doc_id", 10, 2, emit_text=True)
    bad = out.where(F.md5("text") != F.col("dedup_hash")).count()
    assert bad == 0
    # without emit_text the schema is unchanged (no accidental widening)
    base = paragraph_dedup(docs, "text", "doc_id", 10, 2)
    assert base.columns == ["key", "n_segments", "n_dropped", "dedup_hash"]


def test_curation_ledger_invariants(curation_ledger):
    rows = curation_ledger
    order = ["gate", "para", "neardup", "decontam", "mixture", "shard"]
    assert [s for s in sorted(rows.values(), key=lambda r: r["stage_no"])] == [
        rows[s] for s in order
    ]
    # stage n's rows_in is stage n-1's rows_out (one relation flows through)
    for prev, cur in zip(order, order[1:]):
        assert rows[cur]["rows_in"] == rows[prev]["rows_out"], (prev, cur)
    # every filtering stage can only shrink the corpus
    for s in ("gate", "neardup", "decontam", "mixture"):
        assert rows[s]["rows_out"] <= rows[s]["rows_in"], s
    # paragraph dedup can only remove tokens; later drops only remove more
    assert rows["para"]["tokens_out"] <= rows["gate"]["tokens_out"]
    assert rows["neardup"]["tokens_out"] <= rows["para"]["tokens_out"]
    assert rows["decontam"]["tokens_out"] <= rows["neardup"]["tokens_out"]
    assert rows["mixture"]["tokens_out"] <= rows["decontam"]["tokens_out"]
    # shard stage packs exactly the mixture survivors
    assert rows["shard"]["rows_in"] == rows["mixture"]["rows_out"]
    assert rows["shard"]["rows_out"] >= 1 or rows["mixture"]["rows_out"] == 0


def test_curation_ledger_bpe_column(curation_ledger):
    """bpe_tokens_out rides every ledger row: a word is ≥1 subword, so
    the real subword count dominates the whitespace count stage-for-
    stage — the systematic under-count that motivated budgeting on BPE."""
    rows = curation_ledger
    for s, r in rows.items():
        assert r["bpe_tokens_out"] >= r["tokens_out"], s
    # packing drops no documents: shard/mixture agree in BOTH units
    assert rows["shard"]["bpe_tokens_out"] == rows["mixture"]["bpe_tokens_out"]


def test_curation_scored_ledger_invariants(scored_ledger):
    """The nine-stage SCORED chain: same flow invariants as the rule-based
    chain, plus the model-gate stages (ppl/dsirsel) and the fuzzy
    decontamination pass slotting in without breaking the relation flow,
    and every budget column carried in both token units."""
    rows = scored_ledger
    order = [
        "gate", "ppl", "dsirsel", "para", "neardup", "decontam",
        "fdecontam", "mixture", "shard",
    ]
    assert [r["stage"] for r in sorted(rows.values(), key=lambda r: r["stage_no"])] == order
    for prev, cur in zip(order, order[1:]):
        assert rows[cur]["rows_in"] == rows[prev]["rows_out"], (prev, cur)
    for s in order[:-1]:  # every stage before packing can only shrink
        assert rows[s]["rows_out"] <= rows[s]["rows_in"], s
    # the DSIR selection is a hard top-k
    assert rows["dsirsel"]["rows_out"] <= min(
        CURATION_SCORED_DSIR_K, rows["dsirsel"]["rows_in"]
    )
    # token counts only decrease stage-over-stage in both units (within
    # each text regime: gate..dsirsel original text, para.. rewritten)
    for a, b in (("ppl", "gate"), ("dsirsel", "ppl"), ("para", "dsirsel"),
                 ("neardup", "para"), ("decontam", "neardup"),
                 ("fdecontam", "decontam"), ("mixture", "fdecontam")):
        assert rows[a]["tokens_out"] <= rows[b]["tokens_out"], (a, b)
        assert rows[a]["bpe_tokens_out"] <= rows[b]["bpe_tokens_out"], (a, b)
    for s in order:
        assert rows[s]["bpe_tokens_out"] >= rows[s]["tokens_out"], s
    assert rows["shard"]["bpe_tokens_out"] == rows["mixture"]["bpe_tokens_out"]


def test_curation_semantic_ledger_invariants(semantic_ledger):
    """The semantic-chain ledger: one relation flows through (rows_in
    chaining), every filtering stage shrinks or holds, tokens are
    monotone non-increasing, the SEMANTIC stage is genuinely load-bearing
    (drops at least one doc on this corpus — a no-op stage would verify
    nothing), and its survivors are a subset of stage 3's output
    re-derived through the standalone operators."""
    rows = semantic_ledger
    order = ["gate", "para", "neardup", "semdedup", "shard"]
    assert sorted(rows, key=lambda s: rows[s]["stage_no"]) == order
    for prev, cur in zip(order, order[1:]):
        assert rows[cur]["rows_in"] == rows[prev]["rows_out"], (prev, cur)
    for s in ("gate", "neardup", "semdedup"):
        assert rows[s]["rows_out"] <= rows[s]["rows_in"], s
    assert rows["semdedup"]["tokens_out"] <= rows["neardup"]["tokens_out"]
    assert rows["semdedup"]["bpe_tokens_out"] <= rows["neardup"]["bpe_tokens_out"]
    # load-bearing: the semantic stage must actually drop something here
    assert rows["semdedup"]["rows_out"] < rows["semdedup"]["rows_in"]
    # shard packs exactly the semantic survivors' tokens
    assert rows["shard"]["rows_in"] == rows["semdedup"]["rows_out"]
    assert rows["shard"]["tokens_out"] == rows["semdedup"]["tokens_out"]


def test_plain_and_semantic_chains_share_stages(
    curation_ledger, semantic_ledger
):
    """Both chains run the same gate, para and near-dup stages over the
    same training split, so their first three ledger rows agree cell for
    cell — a stage that drifted in one chain shows up here even when
    each chain's own oracle is green."""
    for s in ("gate", "para", "neardup"):
        assert curation_ledger[s].asDict() == semantic_ledger[s].asDict(), s
