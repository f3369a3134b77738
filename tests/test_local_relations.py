"""Driver-built relations (``sources.tables.local_table``): every frame the
package builds from Python rows is an Arrow-backed ``LocalRelation`` with
the exact schema the old ``createDataFrame(<list>, schema)`` gave, so it
evaluates in the JVM and starts no pickled-RDD Python worker pool. The
lint test keeps ``createDataFrame`` confined to that one helper; a second
lint keeps the package free of top-level definitions nothing uses."""
from __future__ import annotations

import ast
import decimal
import io
import os
import re
import tokenize

import pytest
from pyspark.sql import types as T

from mgo_liveagent_data_pipeline_spark.sources import tables
from mgo_liveagent_data_pipeline_spark.sources.tables import (
    load_table,
    local_table,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "mgo_liveagent_data_pipeline_spark")


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


_MEDIA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), nullable=False),
        T.StructField("media", T.BinaryType()),
    ]
)

_CASES = [
    # non-empty rows, DDL schema
    (
        [(1, 1, 2), (2, 1, 2)],
        "node long, cluster_id long, cluster_size long",
    ),
    # empty rows, DDL schema with nested and decimal/timestamp types
    (
        [],
        "pk string, bucket_ts timestamp, v array<double>, "
        "total decimal(22,2), cluster_id int",
    ),
    # non-empty rows, StructType schema with a NOT NULL field
    ([(7, bytearray(b"\x00\x01")), (8, None)], _MEDIA),
    # empty rows, StructType schema
    ([], _MEDIA),
    # NULLs and a decimal value
    (
        [("a", None, decimal.Decimal("1.25")), (None, 2.5, None)],
        "id string, score double, amount decimal(12,2)",
    ),
]


@pytest.mark.parametrize("rows,schema", _CASES)
def test_local_table_is_local_relation_with_old_schema(spark, rows, schema):
    df = local_table(spark, rows, schema)
    assert _analyzed(df) == "LocalRelation"
    # field for field — names, types AND nullability — what the
    # list-based createDataFrame produced for the same schema
    old = spark.createDataFrame(rows, schema).schema
    assert [
        (f.name, f.dataType, f.nullable) for f in df.schema.fields
    ] == [(f.name, f.dataType, f.nullable) for f in old.fields]
    got = [tuple(r) for r in df.collect()]
    want = [
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in rows
    ]
    assert got == want


def test_connected_components_fast_path_is_local_relation(spark):
    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = local_table(
        spark, [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    cc = connected_components(pairs)  # default driver_threshold
    assert _analyzed(cc) == "LocalRelation"
    assert {tuple(r) for r in cc.collect()} == {
        (1, 1, 3), (2, 1, 3), (3, 1, 3), (10, 10, 2), (11, 10, 2),
    }


def test_psl_dim_is_local_relation_with_inferred_schema(spark):
    from mgo_liveagent_data_pipeline_spark.operators.textops import (
        PUBLIC_SUFFIXES,
        psl_dim,
    )

    psl = psl_dim(spark)
    assert _analyzed(psl) == "LocalRelation"
    # the schema the old name-list call inferred from the strings
    assert psl.schema == spark.createDataFrame(
        [("co.uk",)], ["public_suffix"]
    ).schema
    assert sorted(r[0] for r in psl.collect()) == sorted(PUBLIC_SUFFIXES)


def _has_broadcast_hint(df) -> bool:
    return "ResolvedHint (strategy=broadcast)" in (
        df._jdf.queryExecution().analyzed().toString()
    )


@pytest.mark.parametrize(
    "name,schema",
    [
        ("nation", "n_nationkey long, n_name string"),
        ("events", "event_id long, ts timestamp_ntz"),
    ],
)
def test_load_table_broadcast_dim_on_both_branches(
    spark, monkeypatch, tmp_path, name, schema
):
    """``broadcast_dim`` gates the hint on the plain branch and on the
    EVENT_TS_TABLES branch alike (no table is in both sets today, so the
    ts table is made a broadcast dimension for the test)."""
    local_table(spark, [], schema).write.parquet(
        str(tmp_path / f"{name}.parquet")
    )
    sf = str(tmp_path)
    monkeypatch.setattr(tables, "BROADCAST_DIMS", frozenset({name}))
    assert _has_broadcast_hint(load_table(spark, sf, name))
    plain = load_table(spark, sf, name, broadcast_dim=False)
    assert not _has_broadcast_hint(plain)
    if name in tables.EVENT_TS_TABLES:
        # the hint sits over the normalized timestamp
        assert dict(load_table(spark, sf, name).dtypes)["ts"] == "timestamp"


def _create_dataframe_uses(path: str) -> list[int]:
    """Line numbers of every ``.createDataFrame`` reference in ``path``
    outside the body of ``sources.tables.local_table``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    allowed: set[int] = set()
    if os.path.relpath(path, PKG) == os.path.join("sources", "tables.py"):
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_table":
                allowed.update(range(node.lineno, node.end_lineno + 1))
    hits = []
    for node in ast.walk(tree):
        named = (
            isinstance(node, ast.Attribute) and node.attr == "createDataFrame"
        ) or (
            isinstance(node, ast.Constant) and node.value == "createDataFrame"
        )
        if named and node.lineno not in allowed:
            hits.append(node.lineno)
    return hits


def test_create_dataframe_only_in_local_table():
    """A list-based ``createDataFrame`` in the package starts a second,
    idle pool of pickled-RDD Python workers; every driver-built frame
    must go through ``local_table`` instead."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                offenders += [
                    f"{os.path.relpath(path, PKG)}:{n}"
                    for n in _create_dataframe_uses(path)
                ]
    assert offenders == []


def _python_files(root: str):
    if os.path.isfile(root):
        yield root
    for d, _dirs, files in os.walk(root):
        yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def test_every_package_definition_is_referenced():
    """A top-level package function or class that no code in the package,
    ``tests/``, ``tools/``, ``perfbench/``, ``bench.py`` or
    ``__spark_entry__.py`` names (a load, an attribute or an import) is
    dead code. Strings do not count: a column alias that happens to share
    a function's name is not a use of it."""
    roots = [PKG] + [
        os.path.join(REPO, p)
        for p in ("tests", "tools", "perfbench", "bench.py", "__spark_entry__.py")
    ]
    defined, used = [], set()
    for root in roots:
        for path in _python_files(root):
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            if path.startswith(PKG + os.sep):
                defined += [
                    (node.name, f"{os.path.relpath(path, PKG)}:{node.lineno}")
                    for node in tree.body
                    if isinstance(
                        node,
                        (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
                    )
                ]
            for node in ast.walk(tree):
                if isinstance(node, ast.Name):
                    used.add(node.id)
                elif isinstance(node, ast.Attribute):
                    used.add(node.attr)
                elif isinstance(node, ast.alias):
                    used.add(node.name.rsplit(".", 1)[-1])
    assert [f"{loc} {name}" for name, loc in defined if name not in used] == []


def _streaming_scaffold_offenders(path: str) -> list[str]:
    """Sites in ``path`` (streaming/windows.py) that rebuild a piece of
    the one micro-batch scaffold outside the helper that owns it."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    spans = {
        node.name: range(node.lineno, node.end_lineno + 1)
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
    }
    writer = {"writeStream", "trigger", "awaitTermination"}
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            # a writer's .start() sits on a chain through .writeStream or
            # .trigger(); a thread's t.start() does not
            starts_writer = node.attr == "start" and any(
                isinstance(n, ast.Attribute) and n.attr in writer
                for n in ast.walk(node.value)
            )
            if (node.attr in writer or starts_writer) and (
                node.lineno not in spans["_drain"]
            ):
                hits.append(f"{node.lineno} .{node.attr} outside _drain")
            if node.attr == "window" and node.lineno not in spans["_sum_6h"]:
                hits.append(f"{node.lineno} F.window outside _sum_6h")
        if (
            isinstance(node, ast.Constant)
            and node.value == "maxFilesPerTrigger"
            and node.lineno not in spans["stage_doc_batches"]
        ):
            hits.append(f"{node.lineno} file stream outside stage_doc_batches")
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "read"
        ):
            multi_path = bool(node.args) and all(
                isinstance(a, ast.Starred) for a in node.args
            )
            if not multi_path and node.lineno not in spans["_event_stream"]:
                hits.append(f"{node.lineno} inferring read.parquet")
    return hits


def test_streaming_members_share_one_scaffold():
    """Every streaming member runs to completion through ``_drain``, sums
    its 6-hour windows through ``_sum_6h`` and stages its micro-batches
    through ``stage_doc_batches``; tables it wrote are read with
    ``read_flat``. Schema inference (``spark.read.parquet``) is left to
    the testdata source read in ``_event_stream`` and the block index's
    multi-path tail reads."""
    path = os.path.join(PKG, "streaming", "windows.py")
    assert _streaming_scaffold_offenders(path) == []


_TAG_ALIASES = {"mode", "variant", "src"}
_TAG_SQL = re.compile(r'\bAS\s+"?(mode|variant|src)\b|\bUNION\s+ALL\b', re.I)


def _suite_layer_offenders(path: str) -> list[str]:
    """Sites in ``path`` (plans/suites.py) that hand-write a union branch
    instead of a spec row: a tag-column alias outside ``_union``, a
    ``UNION ALL`` or tag-column ``AS`` outside ``_union_sql`` and the
    explicit ``_Rel`` relations, and any ``_tagged``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    spans = {
        node.name: range(node.lineno, node.end_lineno + 1)
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
    }
    docstrings, rels = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.ClassDef)) and (
            ast.get_docstring(node) is not None
        ):
            docstrings.add(id(node.body[0].value))
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "_Rel"
        ):
            rels.update(range(node.lineno, node.end_lineno + 1))
    hits = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "alias"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value in _TAG_ALIASES
            and node.lineno not in spans.get("_union", ())
        ):
            hits.append(f"{node.lineno} tag alias outside _union")
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
            and _TAG_SQL.search(node.value)
            and node.lineno not in spans.get("_union_sql", ())
            and node.lineno not in rels
        ):
            hits.append(f"{node.lineno} hand-written SQL branch")
        if (isinstance(node, ast.Name) and node.id == "_tagged") or (
            isinstance(node, ast.FunctionDef) and node.name == "_tagged"
        ):
            hits.append(f"{node.lineno} _tagged")
    return hits


def test_suites_are_spec_tables():
    """Every union suite in plans/suites.py is one spec table read by both
    engines: only ``_union`` aliases the tag column on Spark, and only
    ``_union_sql`` (plus the explicit ``_Rel`` relations, which keep a
    plan shape a projection cannot express) writes a ``UNION ALL`` or a
    tag-column ``AS``. ``_tagged``, the old per-branch SQL wrapper, is
    gone."""
    path = os.path.join(PKG, "plans", "suites.py")
    assert _suite_layer_offenders(path) == []


_CHAIN_STAGE_CALLS = {
    "quality_filter", "bpe_encode", "paragraph_dedup", "minhash_lsh_dedup",
    "connected_components", "dedup_apply", "decontaminate",
    "mixture_sample", "pack_shards", "history_append",
}
# one head per shared stage fragment: gate, para, neardup, decontam,
# mixture, shard
_CHAIN_CTE_HEADS = (
    "qt AS", "segd AS", "comp AS", "evg AS", "AS accept_rate", "AS shard_id",
)
# heads whose fragment every twin in the file splices, chain or not
_FILE_CTE_HEADS = ("qt AS", "etoks AS")


def _composed_chain_offenders(plans_dir: str) -> list[str]:
    """Sites under ``plans_dir`` that rebuild a shared curation stage or
    the ledger instead of calling the function that owns it: a
    ``q_curation_*`` chain calling a stage operator or the history sink
    itself, a ``rows_in`` alias outside ``_ledger``, an ``AS
    bpe_tokens_out`` outside ``_ledger_sql``, a gate, para, near-dup,
    decontam, mixture or shard CTE head (``_CHAIN_CTE_HEADS``) not
    written exactly once in the SQL the curation twins
    (``_curation*_sql``) build, and a
    quality-gate or perplexity-model head (``qt``, ``etoks``) written
    more than once anywhere in the file."""
    hits = []
    for fn in sorted(f for f in os.listdir(plans_dir) if f.endswith(".py")):
        path = os.path.join(plans_dir, fn)
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
        strings = {}  # top-level owner -> its non-docstring string parts
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            docs = {
                id(n.body[0].value)
                for n in ast.walk(top)
                if isinstance(n, (ast.FunctionDef, ast.ClassDef))
                and ast.get_docstring(n) is not None
            }
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = getattr(f, "id", getattr(f, "attr", None))
                    if owner.startswith("q_curation_") and (
                        name in _CHAIN_STAGE_CALLS
                    ):
                        hits.append(f"{fn}:{node.lineno} {owner} calls {name}")
                    if (
                        name == "alias"
                        and node.args
                        and isinstance(node.args[0], ast.Constant)
                        and node.args[0].value == "rows_in"
                        and owner != "_ledger"
                    ):
                        hits.append(f"{fn}:{node.lineno} rows_in alias in {owner}")
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and id(node) not in docs
                ):
                    strings.setdefault(owner, []).append(node.value)
        for owner, parts in strings.items():
            if owner != "_ledger_sql" and any(
                "AS bpe_tokens_out" in p for p in parts
            ):
                hits.append(f"{fn} AS bpe_tokens_out in {owner}")
        # the curation twins and every module function they reach
        todo = [n for n in funcs if n.startswith("_curation") and n.endswith("_sql")]
        reach = set()
        while todo:
            name = todo.pop()
            if name not in reach:
                reach.add(name)
                todo += [
                    n.id
                    for n in ast.walk(funcs[name])
                    if isinstance(n, ast.Name) and n.id in funcs
                ]
        heads = {head: [] for head in _CHAIN_CTE_HEADS} if reach else {}
        for owner in sorted(reach):
            for p in strings.get(owner, ()):
                for head in heads:
                    heads[head] += [owner] * len(
                        re.findall(rf"\b{head}\b", p)
                    )
        hits += [
            f"{fn} {head} written {len(owners)}x: {', '.join(owners)}"
            for head, owners in heads.items()
            if len(owners) != 1
        ]
        everywhere = {head: [] for head in _FILE_CTE_HEADS}
        for owner, parts in sorted(strings.items()):
            for p in parts:
                for m in re.finditer(r"\b(qt|etoks) AS\b", p):
                    everywhere[m.group(0)].append(owner)
        hits += [
            f"{fn} {head} written {len(owners)}x in the file: {', '.join(owners)}"
            for head, owners in everywhere.items()
            if len(owners) > 1
        ]
    return hits


def test_composed_chains_share_their_stages():
    """The three curation chains call the one implementation of each
    shared stage (``_gate``, ``_para``, ``_neardup``, ``_decontam``,
    ``_mixture``, ``_shard``) instead of the operators, and the four
    ledgered members build their ledger through ``_ledger`` (the
    curation chains through its one history round trip). Their DuckDB
    twins splice the one CTE fragment per shared stage and render their
    ledger through ``_ledger_sql``; the
    ``stream_scored_ingest`` twin splices the same quality-gate
    (``_quality_ctes``) and perplexity-gate (``_ppl_gate_ctes``)
    fragments."""
    assert _composed_chain_offenders(os.path.join(PKG, "plans")) == []


# Spark-side kernel signatures in operators/annsearch.py (code only —
# docstrings and comments do not count): each written exactly once
_ANN_SPARK_KERNELS = {
    "centroid cross join": ".crossJoin(F.broadcast(cents))",
    "pre-normed cosine": "cosine_prenorm(",
    "SQ8 integer dot": 'F.zip_with(F.col("cc"), F.col("qc")',
    "PQ ADC fold": 'F.collect_list(F.struct("m", "d"))',
    "filter_mode check": "filter_mode not in",
}
# DuckDB-side fragment signatures in plans/pipeline.py, counted over the
# non-docstring string parts (an f-string fragment counts once however
# it is parameterized)
_ANN_SQL_KERNELS = {
    "rank tail": ", corpus_id ASC) AS rn",
    "IVF route": "routed AS (",
    "literal-plane dot (sig builder)": "[i] * (",
    "sig flips": " THEN '0' ELSE '1' END) || substr(",
    "SQ8 codes": "floor(x / s * 127 + 0.5)",
    "PQ ADC fold": "struct_pack(m := m, d := d)",
}
# the one row_number window in annsearch.py that is not a top-k pick
_ANN_OWN_WINDOWS = {"ivf_centroids"}


def _docstring_ids(tree: ast.AST) -> set[int]:
    return {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.ClassDef))
        and ast.get_docstring(n) is not None
    }


def _code_only(path: str) -> tuple[str, ast.AST]:
    """``path``'s source with comments and docstrings blanked, and its
    syntax tree."""
    with open(path) as f:
        src = f.read()
    tree = ast.parse(src, path)
    lines = src.splitlines(keepends=True)
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col] + "\n"
    docs = _docstring_ids(tree)
    drop = {
        i
        for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and id(n.value) in docs
        for i in range(n.lineno - 1, n.end_lineno)
    }
    return "".join(line for i, line in enumerate(lines) if i not in drop), tree


def _sql_parts(path: str) -> list[str]:
    """The non-docstring string constants of ``path`` (an f-string
    contributes its literal parts)."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    docs = _docstring_ids(tree)
    return [
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and id(n) not in docs
    ]


def _written_once(where: str, text: str, kernels: dict) -> list[str]:
    return [
        f"{where} {name} written {text.count(sig)}x"
        for name, sig in kernels.items()
        if text.count(sig) != 1
    ]


def _sql_written_once(where: str, parts: list[str], kernels: dict) -> list[str]:
    counts = {
        name: sum(p.count(sig) for p in parts) for name, sig in kernels.items()
    }
    return [
        f"{where} {name} written {n}x" for name, n in counts.items() if n != 1
    ]


def _ann_kernel_offenders(ann_path: str, pipeline_path: str) -> list[str]:
    """Kernels of the similarity-search family not written exactly once:
    the Spark signatures in ``ann_path``, a ``row_number`` window there
    outside the one that is not a top-k pick, and the DuckDB fragment
    signatures in ``pipeline_path``."""
    code, tree = _code_only(ann_path)
    hits = _written_once("annsearch.py", code, _ANN_SPARK_KERNELS)
    for top in tree.body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "row_number"
                and getattr(top, "name", None) not in _ANN_OWN_WINDOWS
            ):
                hits.append(f"annsearch.py:{node.lineno} row_number window")
    return hits + _sql_written_once(
        "pipeline.py", _sql_parts(pipeline_path), _ANN_SQL_KERNELS
    )


def test_ann_family_shares_its_kernels():
    """The eight search operators in operators/annsearch.py compose one
    implementation each of the IVF router, the cosine and SQ8 scorers,
    the PQ ADC fold and the filter check, and rank through
    ``windows.top_k_per_group``; their DuckDB twins in plans/pipeline.py
    splice one rank tail (``_rank_sql``), one IVF route
    (``_ivf_route_ctes``), one sign-bit builder and flip list
    (``_rh_sig_sql`` over ``_plane_dot_sql``, ``_flips_sql``), one SQ8
    code block and one PQ ADC fold."""
    assert _ann_kernel_offenders(
        os.path.join(PKG, "operators", "annsearch.py"),
        os.path.join(PKG, "plans", "pipeline.py"),
    ) == []


# Spark-side kernel signatures of the near-duplicate family, code only,
# each written exactly once over operators/dedup.py, operators/annsearch.py
# and operators/multimodal.py
_DEDUP_SPARK_KERNELS = {
    "bucket-size window": "F.count(F.lit(1)).over(Window.partitionBy(",
    "ordered self-join": '.where(F.col(f"a.{by}") < F.col(f"b.{by}"))',
    "delta-side orientation": 'F.least(F.col("a.key"), F.col("b.key"))',
    "shingle-map attach": '.alias("sh_a")',
    "Hamming fold": 'withColumn("hamming_dist"',
    "band posting": '.alias("band_bits")',
    "re-ingest supersede": 'delta_keys.withColumnRenamed("key", key_col)',
    "kept/dropped verdict": '.alias("kept")',
    "pair-budget cap": '.alias("bn")',
    "pair cosine": 'cosine_prenorm(F.col("a.v")',
    "bit-string flip": 'F.lit("0")).otherwise(F.lit("1"))',
    "radius guard": "radius > bands - 1",
}
# DuckDB-side fragment signatures over plans/pipeline.py and
# plans/persistence.py (non-docstring string parts)
_DEDUP_SQL_KERNELS = {
    "bucket cap": "QUALIFY count(*) OVER",
    "candidate join": "SELECT DISTINCT a.key AS id_a, b.key AS id_b",
    "Hamming distance": ", CAST(i AS INT), 1) <> ",
    "shingle set": "(trim(text), '\\s+')[i:i+",
    "MinHash signature": "] AS sig FROM ",
    "band keys": "]) AS band_key",
    "Jaccard verify": "sa.sh AS sh_a",
}


def _dedup_kernel_offenders(ops_dir: str, plans_dir: str) -> list[str]:
    """Kernels of the near-duplicate family not written exactly once: the
    Spark signatures across the operator modules that hold them, and the
    DuckDB fragment signatures across the twins' modules."""
    code = "".join(
        _code_only(os.path.join(ops_dir, fn))[0]
        for fn in ("dedup.py", "annsearch.py", "multimodal.py")
    )
    parts = [
        p
        for fn in ("pipeline.py", "persistence.py")
        for p in _sql_parts(os.path.join(plans_dir, fn))
    ]
    return _written_once("operators", code, _DEDUP_SPARK_KERNELS) + (
        _sql_written_once("plans", parts, _DEDUP_SQL_KERNELS)
    )


def test_dedup_family_shares_its_kernels():
    """The near-duplicate pair operators in operators/dedup.py compose
    one implementation each of the bucket cap (``_cap`` over
    ``_bucket_n``), the ordered self-join and candidate pairs
    (``_self_join``, ``_candidates``, delta side included), the shingle
    Jaccard verify, the Hamming fold, the band posting, the re-ingest
    supersede, the SemDeDup verdict, the pair-budget block cap and the
    pair cosine; the bit-string flip (``annsearch._flip_bits``) and the
    banding radius guard are written once for dedup, annsearch and
    multimodal. Their DuckDB twins splice one bucket cap (``_cap_sql``),
    one candidate join (``_cand_sql``), one Hamming distance
    (``_hamming_sql``) and one MinHash-LSH chain (``_sigs_ctes``,
    ``_verify_sql``, ``_lsh_ctes``)."""
    assert _dedup_kernel_offenders(
        os.path.join(PKG, "operators"), os.path.join(PKG, "plans")
    ) == []
