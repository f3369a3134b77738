"""Plan-shape regression tests: the scale properties the operators were
designed around — predicate pushdown into the parquet footer, column
pruning, broadcast-vs-shuffle join choice, rank-limit pushdown — asserted
on the formatted physical plan so they cannot silently regress.

These run at sf0.001 (plan shape is scale-invariant; only the stats-based
join choices need data, and the dims are far under the broadcast
threshold at every SF).
"""
from __future__ import annotations

import pytest

from mgo_liveagent_data_pipeline_spark.plans.registry import ALL_QUERIES as QUERIES

SF = "/root/testdata/sf0.001"


def plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_a1_filter_reaches_parquet_and_aggregates_partially(spark):
    s = plan(spark, "a1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in s  # pushed to the scan
    # partial+final hash agg with exactly one shuffle between them
    assert s.count("HashAggregate") >= 2
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s


def test_p3_events_range_predicate_pushed_to_scan(spark):
    s = plan(spark, "p3_time_window")
    # the 6-h window must prune row groups on the column's NATIVE physical
    # type — filtering a converted/cast timestamp would read everything
    assert "GreaterThanOrEqual(ts," in s and "LessThan(ts," in s


def test_j1_dims_broadcast_not_shuffled(spark):
    s = plan(spark, "j1_broadcast_enrich")
    assert "BroadcastExchange" in s
    assert "SortMergeJoin" not in s  # fact side must not sort-shuffle


def test_ann_scan_prunes_unused_columns(spark):
    s = plan(spark, "ann_cosine_topk")
    # embeddings table has (vec_id, embedding, label); label is unused
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in s
    assert "label" not in s


def test_w2_rank_limit_pushed_into_window(spark):
    s = plan(spark, "w2_topk_per_group")
    # Spark turns row_number()<=k into WindowGroupLimit (per-group top-k
    # without materializing full partitions)
    assert "WindowGroupLimit" in s


def test_lsh_never_goes_quadratic(spark):
    s = plan(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


@pytest.mark.parametrize("name", ["dedup_exact", "f8_tumbling_6h"])
def test_single_shuffle_aggregations(spark, name):
    s = plan(spark, name)
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s
    # one logical aggregation: partial+final pair around one exchange
    assert s.count("HashAggregate") >= 2


def test_token_counts_is_a_pure_narrow_map(spark):
    s = plan(spark, "text_token_counts")
    # per-row scalar work fused into the scan stage: no shuffle anywhere
    assert "Exchange" not in s
    assert "codegen" in s  # whole-stage codegen'd projection


def test_ann_suite_no_unintended_quadratic_joins(spark):
    s = plan(spark, "ann_suite")
    # the only nested-loop joins are the intended broadcast cross joins
    # (query set / centroids broadcast); the corpus must never sort-shuffle
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" in s


def test_cosine_norms_hoisted_out_of_pair_projection(spark):
    s = plan(spark, "ann_cosine_topk")
    # exactly two norm folds (one per side's projection); a regression that
    # re-inlines them into the per-pair expression shows 3+ aggregates
    assert s.count("SQRT(aggregate(") == 2


def test_multimodal_suite_is_arrow_batched_python(spark):
    import re

    from mgo_liveagent_data_pipeline_spark.plans.suites import (
        MULTIMODAL_PYTHON_BRANCHES,
    )

    s = plan(spark, "multimodal_suite")
    # every Python-crossing branch is exactly ONE Arrow-batched MapInPandas
    # node; the expected branch count lives next to the suite's union chain
    # so adding a mode fails here with a named constant, not a magic total
    heads = re.findall(r"^\((\d+)\) MapInPandas", s, re.M)
    assert len(heads) == MULTIMODAL_PYTHON_BRANCHES
    # every MapInPandas mention in the tree carries a node id that has a
    # detail header — a mismatch means a branch smuggled in an extra
    # un-audited Python stage. (A plain 2x text count breaks on SELF-
    # JOINED crossings: the incremental branch's postings subtree prints
    # twice in the tree under ONE node id.)
    tree_ids = set(re.findall(r"MapInPandas \((\d+)\)", s))
    assert tree_ids == set(heads)
    assert "BatchEvalPython" not in s  # no row-at-a-time Python anywhere


def test_f1_f6_fused_single_scan(spark):
    s = plan(spark, "f1_f6_string_ops")
    assert "Exchange" not in s
    # one scan node = tree line + detail header in formatted explain
    assert s.count("Scan parquet") == 2


def test_text_metrics_fused_single_scan(spark):
    s = plan(spark, "text_metrics")
    assert "Exchange" not in s
    assert s.count("Scan parquet") == 2


def test_ngram_block_join_is_narrow(spark):
    s = plan(spark, "dedup_ngram_pairs")
    # the in-block self-join must carry only (block_cols, key): its scan
    # is narrow, and text is read only by the semi-join-pruned shingle map
    # (a cached relation — formatted explain re-prints its definition per
    # reference, so count scans that read text WITH block cols: zero)
    import re

    assert "ReadSchema: struct<doc_id:bigint,lang:string,source:string>" in s
    wide = [
        m
        for m in re.findall(r"ReadSchema: struct<[^\n]*", s)
        if "text" in m and "lang" in m
    ]
    assert not wide
    assert "CartesianProduct" not in s


def _audit_lines(spark, names) -> tuple[dict, dict]:
    """The audit lines of ``names`` (tools/audit_plans.py:audit_line, at
    its sf0.01) and their ``PLANS.txt`` lines."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "audit_plans", os.path.join(repo, "tools", "audit_plans.py")
    )
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    with open(os.path.join(repo, "PLANS.txt")) as f:
        want = {line.split(" ", 1)[0]: line.rstrip("\n") for line in f}
    sf = os.path.join(os.path.dirname(SF), "sf0.01")
    got = {n: audit.audit_line(spark, n, QUERIES[n], sf) for n in names}
    return got, {n: want[n] for n in names}


_ANN_GATE = sorted(n for n in QUERIES if n.startswith("ann_"))


def test_ann_plans_match_plans_txt(spark):
    """Plan gate for the similarity-search family: every ``ann_*`` member
    and ``ann_suite`` audits (tools/audit_plans.py:audit_line, at its
    sf0.01) to exactly its ``PLANS.txt`` line — exchange, broadcast and
    sort-merge counts, scan widths, pushed filters and flags. A change
    that moves one of these plans must regenerate PLANS.txt."""
    assert len(_ANN_GATE) == 13
    got, want = _audit_lines(spark, _ANN_GATE)
    assert got == want


_DEDUP_GATE = sorted(
    n for n in QUERIES if n.startswith("dedup_") and not n.endswith("_suite")
) + ["text_decontaminate", "text_fuzzy_decontaminate", "text_paragraph_dedup"]


def test_dedup_plans_match_plans_txt(spark):
    """Plan gate for the near-duplicate family: the 17 ``dedup_*``
    members and the three text dedup/decontamination members audit to
    exactly their ``PLANS.txt`` lines (same check as the ANN gate)."""
    assert len(_DEDUP_GATE) == 20
    got, want = _audit_lines(spark, _DEDUP_GATE)
    assert got == want
