"""Property tests (hypothesis) — SURVEY §5.4.

Spark roundtrips are expensive per example, so example counts are small
and frames are tiny; the properties still cover the interesting space
(arbitrary unicode, nulls, duplicate keys, adversarial time strings).
"""
from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mgo_liveagent_data_pipeline_spark.functions.datetimes import fuse_schedule
from mgo_liveagent_data_pipeline_spark.functions.similarity import (
    jaccard,
    levenshtein_ratio,
    word_shingles,
)
from mgo_liveagent_data_pipeline_spark.sinks.writers import table_path, upsert

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texty = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30
)


@SETTINGS
@given(st.lists(st.tuples(texty, texty), min_size=1, max_size=5))
def test_fuse_schedule_is_total(spark, rows):
    """Arbitrary date/time garbage never errors — nulls, never exceptions
    (the reference's errors='coerce' contract)."""
    df = spark.createDataFrame(rows, "d string, t string")
    out = df.select(fuse_schedule("d", "t").alias("ts")).collect()
    assert len(out) == len(rows)


@SETTINGS
@given(
    st.lists(texty, min_size=0, max_size=6),
    st.lists(texty, min_size=0, max_size=6),
)
def test_jaccard_symmetric_bounded(spark, a, b):
    df = spark.createDataFrame(
        [(a, b)], "a array<string>, b array<string>"
    ).select(
        F.array_distinct("a").alias("a"), F.array_distinct("b").alias("b")
    )
    r = df.select(
        jaccard(F.col("a"), F.col("b")).alias("ab"),
        jaccard(F.col("b"), F.col("a")).alias("ba"),
    ).collect()[0]
    assert r["ab"] == r["ba"]
    assert 0.0 <= r["ab"] <= 1.0


@SETTINGS
@given(texty, texty)
def test_levenshtein_ratio_props(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a string, b string")
    r = df.select(
        levenshtein_ratio("a", "b").alias("ab"),
        levenshtein_ratio("b", "a").alias("ba"),
        levenshtein_ratio("a", "a").alias("aa"),
    ).collect()[0]
    assert r["ab"] == r["ba"]
    assert 0.0 <= r["ab"] <= 100.0
    assert r["aa"] == 100.0


@SETTINGS
@given(st.text(alphabet="ab ", max_size=40), st.integers(1, 4))
def test_word_shingles_distinct_and_total(spark, text, k):
    df = spark.createDataFrame([(text,)], "t string")
    sh = df.select(word_shingles("t", k).alias("s")).collect()[0]["s"]
    assert len(sh) == len(set(sh))  # distinct
    assert len(sh) >= 1  # never empty (short text → whole text)


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)),
        min_size=1,
        max_size=8,
    ),
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)),
        min_size=1,
        max_size=8,
    ),
)
def test_upsert_idempotent_random_frames(spark, tmp_path_factory, target, source):
    base = str(tmp_path_factory.mktemp("ups"))
    tdf = spark.createDataFrame(target, "id int, v int").dropDuplicates(["id"])
    sdf = spark.createDataFrame(source, "id int, v int").dropDuplicates(["id"])
    tdf.write.mode("overwrite").parquet(table_path(base, "t"))
    upsert(spark, sdf, base, "t", "id")
    once = sorted(map(tuple, spark.read.parquet(table_path(base, "t")).collect()))
    upsert(spark, sdf, base, "t", "id")
    twice = sorted(map(tuple, spark.read.parquet(table_path(base, "t")).collect()))
    assert once == twice
    # every source key's value won; non-source keys retained
    got = dict(once)
    for k, v in dict(map(tuple, sdf.collect())).items():
        assert got[k] == v


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-10_000, max_value=10_000),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_salted_sum_equals_plain_sum(spark, rows):
    """Salting is algebra-invariant for decomposable aggregates: any key
    distribution, any salt bucket count."""
    from mgo_liveagent_data_pipeline_spark.operators.skew import salted_sum

    df = spark.createDataFrame(rows, "k string, v long")
    salted = {
        r["k"]: (r["total"], r["n"])
        for r in salted_sum(
            df, ["k"], {"total": F.sum("v"), "n": F.count(F.lit(1))},
            salt_buckets=4,
        ).collect()
    }
    plain = {
        r["k"]: (r["total"], r["n"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert salted == plain


@SETTINGS
@given(
    st.text(alphabet="abcdefgh ", min_size=30, max_size=60),
    st.text(alphabet="qrstuvwx ", min_size=20, max_size=40),
    st.text(alphabet="ijklmnop ", min_size=20, max_size=40),
)
def test_winnow_overlap_detects_shared_passage(spark, passage, pre, post):
    """Winnowing guarantee: a shared substring of length ≥ w + k − 1
    contains one full identical hash window in both docs, whose minimum
    is selected in both — so the pair must surface at min_shared=1.
    Disjoint alphabets keep the surrounding text from colliding."""
    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        winnow_overlap_pairs,
    )

    k, w = 16, 8
    assert len(passage) >= k + w - 1
    df = spark.createDataFrame(
        [(1, pre + passage), (2, passage + post)], ["doc_id", "text"]
    )
    pairs = winnow_overlap_pairs(df, k=k, w=w, min_shared=1).collect()
    assert any((r["id_a"], r["id_b"]) == (1, 2) for r in pairs)


def test_p50_half_cent_boundary_matches_duckdb(spark):
    """a7_rollup's median rounding at the x.xx5 boundary: a raw
    round(percentile/100, 2) diverges between engines (Spark HALF_UPs the
    decimal string, DuckDB rounds the binary double); the shipped
    floor(cents + 0.5) / 100 formulation must agree bit-for-bit."""
    import duckdb

    prices = [1.00, 1.01]  # median cents = 100.5 → the half-cent boundary
    df = spark.createDataFrame([(p,) for p in prices], ["o_totalprice"])
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("double")
    p50 = (
        F.floor(F.percentile(cents, F.lit(0.5)) + F.lit(0.5)).cast("double")
        / 100
    )
    spark_val = df.agg(p50.alias("p50")).collect()[0]["p50"]
    duck_val = duckdb.sql(
        "SELECT CAST(floor(quantile_cont(CAST(CAST(round(p * 100, 0) AS "
        "BIGINT) AS DOUBLE), 0.5) + 0.5) AS DOUBLE) / 100 "
        "FROM (VALUES (1.00), (1.01)) t(p)"
    ).fetchone()[0]
    assert spark_val == duck_val == 1.01  # HALF_UP, identically


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Arbitrary small graphs (self-loops, duplicates, chains, cliques):
    the distributed min-label + pointer-jump fixpoint must equal a plain
    union-find's components with min-id labels."""
    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        connected_components,
        release_intermediates,
    )

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    expected = {
        n: (min(members), len(members))
        for members in comp.values()
        for n in members
    }

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    # BOTH paths: the driver union-find fast path (default threshold)
    # and the distributed pointer-jumping loop (threshold disabled)
    got_driver = {
        r["node"]: (r["cluster_id"], r["cluster_size"])
        for r in connected_components(df).collect()
    }
    got_dist = {
        r["node"]: (r["cluster_id"], r["cluster_size"])
        for r in connected_components(df, driver_threshold=None).collect()
    }
    release_intermediates()
    assert got_driver == expected
    assert got_dist == expected


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user
            st.integers(min_value=0, max_value=50_000), # epoch offset s
        ),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
def test_sessionize_matches_python_reference(spark, rows):
    """Session numbering equals the single-threaded reference: sort each
    user's events by (ts, id), open a new session when the gap exceeds
    the threshold."""
    from datetime import datetime, timedelta

    from mgo_liveagent_data_pipeline_spark.operators.windows import sessionize

    gap = 3600
    base = datetime(2024, 1, 1)
    data = [
        (i, u, base + timedelta(seconds=off), 0.0)
        for i, (u, off) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, ["event_id", "user_id", "ts", "value"])
    got = {
        r["event_id"]: r["session_no"]
        for r in sessionize(df, "user_id", "ts", gap, "event_id").collect()
    }

    expect = {}
    by_user: dict[int, list] = {}
    for i, u, ts, _v in data:
        by_user.setdefault(u, []).append((ts, i))
    for u, evs in by_user.items():
        evs.sort()
        prev = None
        sno = 0
        for ts, i in evs:
            if prev is None or (ts - prev).total_seconds() > gap:
                sno += 1
            expect[i] = sno
            prev = ts
    assert got == expect


@SETTINGS
@given(
    st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=3),
        min_size=1,
        max_size=30,
    )
)
def test_cms_estimate_upper_bounds_every_count(spark, values):
    """CMS never undercounts, for arbitrary collision-heavy value sets
    (3-char alphabet-of-5 strings force cell collisions at width 16)."""
    from collections import Counter

    from mgo_liveagent_data_pipeline_spark.operators.aggregations import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([(v,) for v in values], ["v"])
    sketch = cms_build(df, "v", width=16, depth=2)
    est = {
        r["v"]: r["est_count"]
        for r in cms_estimate(df, "v", sketch, width=16, depth=2).collect()
    }
    true = Counter(values)
    assert set(est) == set(true)
    for v, t in true.items():
        assert est[v] >= t


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),           # domain
            st.integers(min_value=0, max_value=8),      # token count
        ),
        min_size=1,
        max_size=15,
    ),
    st.integers(min_value=1, max_value=200),            # budget
)
def test_mixture_sample_matches_python_reference(spark, rows, budget):
    """The kept set equals the single-threaded reference: per-domain
    rate = min(1, budget·w/Σw ÷ domain tokens) (1.0 when the domain has
    no tokens), keep iff first-8-hex md5(doc_id) < rate·16^8. Domain
    'c' is unweighted and must vanish."""
    import hashlib

    from mgo_liveagent_data_pipeline_spark.operators.textops import (
        mixture_sample,
    )

    weights = {"a": 0.5, "b": 0.5}
    data = [
        (i, dom, " ".join(["w"] * nt)) for i, (dom, nt) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, ["doc_id", "domain", "text"])
    got = sorted(
        r["doc_id"]
        for r in mixture_sample(
            df, "domain", weights, budget, "text", "doc_id"
        ).collect()
    )

    cur: dict[str, int] = {}
    for _i, dom, text in data:
        cur[dom] = cur.get(dom, 0) + len(text.split())
    expect = []
    for i, dom, _text in data:
        if dom not in weights:
            continue
        target = float(budget) * (weights[dom] / 1.0)
        rate = 1.0 if cur[dom] == 0 else min(1.0, target / cur[dom])
        bucket = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        if bucket < rate * 16**8:
            expect.append(i)
    assert got == sorted(expect)


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),   # key
            st.integers(min_value=1, max_value=9),   # seq
            st.sampled_from(["I", "U", "D"]),
            st.integers(min_value=0, max_value=99),  # payload value
        ),
        min_size=1,
        max_size=10,
        unique_by=lambda t: (t[0], t[1], t[2]),
    )
)
def test_apply_cdc_matches_python_reference(spark, feed):
    """apply_cdc equals a single-threaded replay: per key, the change
    with the highest (seq, op) wins; a winning D removes the key,
    anything else upserts the row onto the snapshot."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import apply_cdc

    target_rows = [(k, -1) for k in (1, 2)]
    target = spark.createDataFrame(target_rows, ["k", "v"])
    changes = spark.createDataFrame(feed, ["k", "seq", "op", "v"]).select(
        "k", "v", "seq", "op"
    )
    got = {
        r["k"]: r["v"]
        for r in apply_cdc(target, changes, ["k"], "seq", "op").collect()
    }

    expect = dict(target_rows)
    winners: dict[int, tuple] = {}
    for k, seq, op, v in feed:
        if k not in winners or (seq, op) > winners[k][:2]:
            winners[k] = (seq, op, v)
    for k, (_seq, op, v) in winners.items():
        if op == "D":
            expect.pop(k, None)
        else:
            expect[k] = v
    assert got == expect


# ---------------------------------------------------------------------------
# pair-budget block cap: Σ n·(n−1)/2 over kept blocks must stay within the
# budget on ANY size distribution, and the cap must be maximal (greedy-from-
# smallest is optimal under the all-or-nothing block rule)
@given(
    st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=200),
    st.integers(min_value=0, max_value=10_000_000),
)
@settings(deadline=None, max_examples=200)
def test_derive_block_cap_respects_budget_and_is_maximal(sizes, budget):
    from mgo_liveagent_data_pipeline_spark.operators.dedup import derive_block_cap

    cap, kept, refused = derive_block_cap(sizes, budget)
    pairs = lambda n: n * (n - 1) // 2  # noqa: E731
    kept_check = sum(pairs(n) for n in sizes if n <= cap)
    total = sum(pairs(n) for n in sizes)
    assert kept == kept_check
    assert kept <= budget
    assert refused == total - kept
    # maximality: admitting the next-larger observed size class must bust
    bigger = sorted({n for n in sizes if n > cap})
    if bigger:
        nxt = bigger[0]
        assert sum(pairs(n) for n in sizes if n <= nxt) > budget
    # histogram form ((size, count) pairs) is the same fold — the shape
    # _block_capped passes straight from its collected aggregate
    from collections import Counter

    hist = sorted(Counter(sizes).items())
    assert derive_block_cap(hist, budget) == (cap, kept, refused)


def test_ngram_pairs_budget_caps_adversarial_blocks(spark):
    """Adversarial distribution (the 64× cliff shape): a few boilerplate
    mega-blocks beside many small ones — the derived cap must keep the
    small blocks and refuse the quadratic ones, and the emitted candidate
    set must respect the budget."""
    from pyspark.sql import functions as F

    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        release_intermediates,
    )

    # blocks: 2 blocks of 60 docs (1770 pairs each), 20 blocks of 4 docs
    # (6 pairs each); budget 200 -> cap must land at 4
    rows = []
    k = 0
    for b in range(2):
        for _ in range(60):
            rows.append((k, f"doc {k} alpha beta gamma", "en", f"big{b}"))
            k += 1
    for b in range(20):
        for _ in range(4):
            rows.append((k, f"doc {k} alpha beta gamma", "en", f"small{b}"))
            k += 1
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    out = ngram_jaccard_pairs(
        df, "text", "doc_id", ("lang", "source"),
        shingle_k=2, threshold=0.0, max_block_size=None,
        max_pairs_budget=200,
    )
    got = out.select("id_a", "id_b").distinct().count()
    release_intermediates()
    # every kept pair comes from the 20 small blocks: 20 * C(4,2) = 120
    assert got == 120


def test_embedding_near_dup_budget_caps_blocks(spark):
    """Budget path of embedding_near_dup: one mega posting list beside
    small ones — the derived cap must refuse the quadratic list while
    the small blocks still pair, and all pairs stay in-budget."""
    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        embedding_near_dup,
        release_intermediates,
    )

    rows = []
    k = 0
    for _ in range(30):  # one block of 30 vectors -> C(30,2)=435 pairs
        rows.append((k, [1.0, 0.0, float(k % 3)], 100))
        k += 1
    for b in range(5):  # five blocks of 3 -> 3 pairs each
        for _ in range(3):
            rows.append((k, [0.0, 1.0, float(b)], b))
            k += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = embedding_near_dup(
        df, "embedding", "vec_id", "label", threshold=-1.0,
        max_block_size=None, max_pairs_budget=100,
    )
    got = out.count()
    release_intermediates()
    assert got == 15  # 5 blocks * C(3,2); the 30-block refused
