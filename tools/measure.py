"""One measurement harness for the engine's scale evidence.

    python tools/measure.py scale [factor]
    python tools/measure.py profile <tag> [query ...]
    python tools/measure.py smoke <family> [factor] [case ...]

``scale`` is the ×10 probe of the bench's four heavy members (default
factor 10, sf0.1 → ~sf1): one JSON line shaped like ``bench.py``'s,
metric ``scale_probe_wall_sec``, with the jobs each member ran per side.
``profile`` prints, per headline query (default: all of ``bench.HEADLINE``),
the min noop-sink and ``.count()`` wall, the jobs of one count and the
exchanges of the executed plan, and writes the plan to
``$PLANS_DIR/<query>_<tag>.txt``. ``smoke`` runs one family of 1×-vs-N×
cases and prints one JSON line:

    ops        headline operators (default factor 16)
    pairs      pair generators plus the caps' drop accounting (64)
    ann        IVF/PQ probes and recall under corpus growth (64)
    er         batch, incremental and multi-pass entity resolution (64)
    graph      PageRank and truss communities on a ring of cliques (64);
               takes ``[factor] [clique_size] [cliques_1x]``
    bpe        sequential vs batched BPE merge learning; its factor slot
               is the merge count (96), its data default sf0.01
    curation   the composed curation chains with ledgers and disk (64)
    elt        the reference-lifecycle parity chain, same record (64)
    streaming  one fixed micro-batch against an N× standing corpus (64)

A case name the family does not know exits non-zero and lists the known
ones; no name runs every case.

Environment: ``SPARK_GRAFT_SF_DIR`` (base data, as for ``bench.py``),
``SPARK_GRAFT_CPUS`` (local cores), ``SCALE_PROBE_REPS`` (scale: timed
runs per side, fastest kept; 2), ``PROFILE_REPS`` (profile: 3),
``PLANS_DIR`` (profile: where the plans go; unset, a fresh temporary
directory whose path the header line prints).

Every 1×-vs-N× figure comes from :meth:`Harness.pair`: warm at 1×, time
1×, time N×, each run in its own job group so its job count is reported
next to its wall; intermediates and scratch are released after every run.
Scaled inputs come from :func:`replicate` and live in one directory that
is removed when the command ends, however it ends.
"""
from __future__ import annotations

import json
import math
import os
import re
import shutil
import sys
import tempfile
import threading
import time
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bench import HEADLINE, SF_DIR, sf_of, warm_jvm
from mgo_liveagent_data_pipeline_spark.functions.similarity import norm2
from mgo_liveagent_data_pipeline_spark.operators.aggregations import (
    bloom_build,
    bloom_membership,
    cms_heavy_hitters,
    gap_fill_locf,
    histogram_quantiles,
    hypertable_rollup,
    kmv_distinct,
    profile_columns,
    standardize,
    value_histogram,
)
from mgo_liveagent_data_pipeline_spark.operators.annsearch import (
    cosine_topk,
    encode_documents,
    ivf_centroids,
    ivf_topk,
    ivfpq_topk,
    pq_codebooks,
    pq_encode,
    pq_topk,
    rh_planes,
    rh_signature,
)
from mgo_liveagent_data_pipeline_spark.operators.behavior import (
    funnel,
    retention_cohorts,
)
from mgo_liveagent_data_pipeline_spark.operators.dedup import (
    _banded_signatures,
    connected_components,
    dedup_apply,
    embedding_near_dup,
    exact_star_edges,
    incremental_minhash_dedup,
    incremental_semantic_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    release_intermediates,
    semantic_assign,
    semantic_dedup,
    simhash_dedup,
)
from mgo_liveagent_data_pipeline_spark.operators.entity import (
    golden_records,
    incremental_resolve_entities,
    resolve_entities,
)
from mgo_liveagent_data_pipeline_spark.operators.graph import (
    _sym,
    edge_support,
    incremental_truss_communities,
    pagerank,
    truss_communities,
)
from mgo_liveagent_data_pipeline_spark.operators.joins import asof_join, range_join
from mgo_liveagent_data_pipeline_spark.operators.setops import table_diff
from mgo_liveagent_data_pipeline_spark.operators.skew import salted_sum
from mgo_liveagent_data_pipeline_spark.operators.textops import (
    EN_STOPWORDS,
    bm25_topk,
    bpe_encode,
    bpe_train,
    decontaminate,
    domain_stats,
    dsir_importance_weight,
    exact_substring_dedup,
    hashed_linear_score,
    lm_perplexity_score,
    mixture_sample,
    pack_shards,
    paragraph_dedup,
    quality_filter,
)
from mgo_liveagent_data_pipeline_spark.operators.windows import sessionize
from mgo_liveagent_data_pipeline_spark.plans.parity import q_elt_parity_pipeline
from mgo_liveagent_data_pipeline_spark.plans.pipeline import (
    q_curation_pipeline,
    q_curation_scored_pipeline,
    q_curation_semantic_pipeline,
    qmodel_weights,
)
from mgo_liveagent_data_pipeline_spark.plans.registry import ALL_QUERIES
from mgo_liveagent_data_pipeline_spark.plans.relational import (
    _er_multi_records,
    _er_records,
)
from mgo_liveagent_data_pipeline_spark.scratch import purge_scratch
from mgo_liveagent_data_pipeline_spark.session import get_spark
from mgo_liveagent_data_pipeline_spark.sources.tables import load_table, local_table
from mgo_liveagent_data_pipeline_spark.sinks.writers import (
    apply_cdc,
    overwrite,
    partitioned_scd2_upsert,
    partitioned_upsert,
    read_partitioned,
    scd2_apply_cdc,
    table_path,
    upsert,
    zorder_write,
)
from mgo_liveagent_data_pipeline_spark.streaming.windows import (
    build_er_block_index,
    stream_entity_resolution,
    stream_gated_ingest,
    stream_incremental_dedup,
    stream_scored_ingest,
    stream_semantic_dedup,
)

DIMENSIONS = ("nation", "region")  # bounded in production: copied at 1×


# ---------------------------------------------------------------------------
# Replication: one key shift, optional per-replica rewrites
# ---------------------------------------------------------------------------


def replicate(df, key, factor, shift, rewrite=None):
    """``df`` and ``factor - 1`` copies of it. Copy ``i`` has ``key``
    shifted by ``i * shift`` (keys stay distinct while ``shift`` exceeds
    the key range) and then ``rewrite(copy, i)`` applied; ``rewrite`` is
    one of the rewrites below or a tuple of them."""
    if rewrite is None:
        rewrite = ()
    rewrites = rewrite if isinstance(rewrite, tuple) else (rewrite,)
    out = df
    for i in range(1, factor):
        rep = df.withColumn(key, F.col(key) + F.lit(i * shift))
        for rw in rewrites:
            rep = rw(rep, i)
        out = out.unionByName(rep)
    return out


def token_prefix(col="text", pattern=r"(\S+)"):
    """Prefix every token ``pattern`` matches with ``r<i>x``: replica
    sub-corpora share no shingles, so pair growth measures corpus growth
    instead of N-way duplicate clusters."""
    return lambda df, i: df.withColumn(
        col, F.regexp_replace(F.col(col), pattern, f"r{i}x$1")
    )


def non_stopword_prefix(col="text"):
    """The token prefix for gate-headed chains: prefixing every word
    zeroes the replicas' stopword ratio, so the quality gate drops every
    replica and stages 2+ run on the 1× corpus. Prefixing only
    non-stopwords keeps every gate statistic in range while replicas
    still share almost no shingles."""
    sw = "|".join(EN_STOPWORDS)
    return token_prefix(col, rf"(?<!\S)(?!(?i)(?:{sw})(?!\S))(\S+)")


def perturb_vectors(col="embedding"):
    """Element-wise deterministic integer perturbation: no replica is an
    exact duplicate and every run computes the identical floats."""
    def rw(df, i):
        return df.withColumn(
            col,
            F.transform(
                col,
                lambda x, j: x
                + ((F.lit(i * 31) + j * 7) % 23 - 11).cast("float") * F.lit(0.003),
            ),
        )

    return rw


def name_prefix(col):
    """``r<i>-`` fused into the first name token, so a first-token
    blocking key's cardinality grows with the factor."""
    return lambda df, i: df.withColumn(col, F.concat(F.lit(f"r{i}-"), F.col(col)))


def label_shift(col, step):
    """Each replica's labels in their own band: cluster count grows with
    the corpus, cluster size stays 1×."""
    return lambda df, i: df.withColumn(col, F.col(col) + F.lit(i * step))


def block_key_prefix(df, i):
    """ER blocks per replica: ``block_key`` shifted past the fixtures'
    offsets and ``block_key2`` (the phone-prefix pass, when present)
    prefixed, so block count grows with the factor, not block size
    (NULLs stay NULL)."""
    df = df.withColumn("block_key", F.col("block_key") + F.lit(i * 10_000))
    if "block_key2" in df.columns:
        df = df.withColumn("block_key2", F.concat(F.lit(f"{i}|"), F.col("block_key2")))
    return df


# ---------------------------------------------------------------------------
# The harness
# ---------------------------------------------------------------------------


def emit(obj) -> None:
    print(json.dumps(obj), flush=True)


def note(obj) -> None:
    """Progress on stderr, so a run that dies midway still leaves data."""
    print(json.dumps(obj), file=sys.stderr, flush=True)


class DiskPeak:
    """Background sampler of root-fs bytes used: peak during the block
    minus the baseline approximates its scratch and spill footprint."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.baseline = self.peak = shutil.disk_usage("/").used
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, shutil.disk_usage("/").used)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()

    @property
    def delta_gb(self) -> float:
        return round((self.peak - self.baseline) / 1e9, 2)


class Harness:
    """One warmed Spark session, one scaled-input directory, the pair
    step and the record layouts."""

    def __init__(self, app: str, factor: int = 1, sf_dir: str = SF_DIR):
        self.app, self.factor, self.sf_dir = app, factor, sf_dir
        self._memo: dict = {}

    def __enter__(self):
        self.spark = get_spark(self.app)
        self.sc = self.spark.sparkContext
        warm_jvm(self.spark, self.sf_dir)
        self.big = tempfile.mkdtemp(prefix="mgo_measure_")
        return self

    def __exit__(self, *exc):
        try:
            release_intermediates()
            purge_scratch()
            self.spark.stop()
        finally:
            shutil.rmtree(self.big, ignore_errors=True)

    # -- inputs -------------------------------------------------------------

    def path(self, name: str, scaled: bool = False) -> str:
        return os.path.join(self.big if scaled else self.sf_dir, f"{name}.parquet")

    def read(self, name: str, scaled: bool = False) -> DataFrame:
        return load_table(self.spark, self.big if scaled else self.sf_dir, name,
                          broadcast_dim=False)

    def scale(self, tables: dict) -> str:
        """Write each of ``tables`` (name → (key, shift, rewrite); shift
        None is ten times the table's rows) replicated ``factor``× into
        the scaled-input directory, once; dimensions are copied at 1×."""
        for name, (key, shift, rewrite) in tables.items():
            if not os.path.exists(self.path(name, True)):
                df = self.read(name)
                replicate(
                    df, key, self.factor, shift or 10 * df.count(), rewrite
                ).write.mode("overwrite").parquet(self.path(name, True))
        for name in DIMENSIONS:
            src, dst = self.path(name), self.path(name, True)
            if os.path.exists(src) and not os.path.exists(dst):
                (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
        return self.big

    def inputs(self, name: str) -> tuple[DataFrame, DataFrame]:
        """The 1× and the scaled frame of a table :meth:`scale` wrote;
        the same objects on every call."""
        return self.memo(("inputs", name), lambda: (self.read(name), self.read(name, True)))

    def rows(self, name: str) -> int:
        return self.memo(("rows", name), lambda: self.inputs(name)[0].count())

    def memo(self, key, make):
        if key not in self._memo:
            self._memo[key] = make()
        return self._memo[key]

    def tmp(self, prefix: str) -> str:
        return tempfile.mkdtemp(prefix=prefix, dir=self.big)

    # -- the pair step --------------------------------------------------------

    def pair(self, name, fn, small, large, reps: int = 1, disk: bool = False):
        """Warm ``fn`` on ``small``, then time it on ``small`` (1×) and
        ``large`` (N×). Returns one record per side: ``{"t", "jobs",
        **facts}``. ``fn(input)`` returns a DataFrame (timed through its
        count; fact ``rows``), a dict of facts (the whole call timed) or
        ``(seconds, facts)`` (the case timed its own region). A side keeps
        its fastest of ``reps`` runs; ``disk`` adds the N× side's
        ``peak_disk_gb``."""
        self.run(fn, small, f"{name}: warmup")
        s1 = min(
            (self.run(fn, small, f"{name}: 1x rep {r}") for r in range(reps)),
            key=lambda s: s["t"],
        )
        with DiskPeak() if disk else nullcontext() as dp:
            sn = min(
                (self.run(fn, large, f"{name}: {self.factor}x rep {r}")
                 for r in range(reps)),
                key=lambda s: s["t"],
            )
        if disk:
            sn["peak_disk_gb"] = dp.delta_gb
        note({name: {k: round(s["t"], 2) for k, s in (("t_1x", s1), ("t_Nx", sn))}})
        return s1, sn

    def run(self, fn, x, group: str) -> dict:
        """One run of ``fn(x)`` in job group ``group``: ``{"t", "jobs",
        **facts}`` as :meth:`pair` describes; releases intermediates and
        purges scratch after it."""
        sc = self.sc
        sc.setJobGroup(group, group)
        try:
            t0 = time.time()
            out = fn(x)
            if isinstance(out, DataFrame):
                out = {"rows": out.count()}
            t = time.time() - t0
            if isinstance(out, tuple):
                t, out = out
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job starts reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        release_intermediates()
        purge_scratch()
        return {"t": t, "jobs": jobs, **out}

    # -- record layouts ---------------------------------------------------------

    def row(self, s1, sn, per_unit=False, both=(), large=()) -> dict:
        """The flat record: ``t_1x``, ``t_<N>x``, the ratio, jobs per
        side, the ``both`` facts of each side suffixed and the ``large``
        facts of the N× side as they are."""
        n = self.factor
        out = {"t_1x": round(s1["t"], 2), f"t_{n}x": round(sn["t"], 2),
               **self._ratio(s1, sn, per_unit),
               "jobs_1x": s1["jobs"], f"jobs_{n}x": sn["jobs"]}
        for k in both:
            out[f"{k}_1x"], out[f"{k}_{n}x"] = s1[k], sn[k]
        out.update({k: sn[k] for k in large})
        return out

    def sides(self, name, s1, sn, per_unit=True) -> dict:
        """The split record: ``<name>_1x`` and ``<name>_<N>x`` ({t, rows,
        jobs}) plus ``<name>_ratio``."""
        def side(s):
            return {"t": round(s["t"], 2), "rows": s["rows"], "jobs": s["jobs"]}

        return {f"{name}_1x": side(s1), f"{name}_{self.factor}x": side(sn),
                f"{name}_ratio": self._ratio(s1, sn, per_unit)}

    def _ratio(self, s1, sn, per_unit) -> dict:
        """N×-over-1× wall; ``ratio_per_unit`` (ratio / N) is ≤ 1 when the
        case grows at worst linearly."""
        r = sn["t"] / max(s1["t"], 1e-9)
        out = {"ratio": round(r, 1)}
        if per_unit:
            out["ratio_per_unit"] = round(r / self.factor, 3)
        return out


def _ledger(df) -> list[dict]:
    return [r.asDict() for r in df.orderBy("stage_no").collect()]


# ---------------------------------------------------------------------------
# scale: the ×10 probe of the bench's heavy members
# ---------------------------------------------------------------------------

PROBES = (
    "elt_parity_pipeline",
    "entity_resolution_name",
    "text_pagerank",
    "ann_ivfsq_topk",
)


def scale(factor: int) -> None:
    """orders/lineitem/documents/embeddings get one shared key shift
    (messages still attach to their tickets); customer names get the
    replica prefix so entity_resolution_name's blocks grow in count, not
    size. text_pagerank's distinct link graph is scale-invariant by
    fixture construction, so its rank loop costs the same at any factor."""
    reps = int(os.environ.get("SCALE_PROBE_REPS", "2"))
    base_sf = sf_of(SF_DIR)
    with Harness("measure_scale", factor) as h:
        shift = 10 * h.read("orders").count()
        big = h.scale({
            "orders": ("o_orderkey", shift, None),
            "lineitem": ("l_orderkey", shift, None),
            "customer": ("c_custkey", shift, name_prefix("c_name")),
            "documents": ("doc_id", shift, None),
            "embeddings": ("vec_id", shift, None),
        })
        sides = {}
        for name in PROBES:
            fn = ALL_QUERIES[name]
            sides[name] = h.pair(name, lambda d: fn(h.spark, d), SF_DIR, big, reps=reps)
        scaled = {n: round(sn["t"], 3) for n, (_, sn) in sides.items()}
        base = {n: round(s1["t"], 3) for n, (s1, _) in sides.items()}
        emit({
            "metric": "scale_probe_wall_sec",
            "value": round(sum(scaled.values()), 3),
            "unit": "sec",
            "queries": scaled,
            "sf": round(base_sf * factor, 3) if base_sf > 0 else -1.0,
            "factor": factor,
            "base_sf": base_sf,
            "base_queries": base,
            "ratio": {n: round(scaled[n] / max(base[n], 1e-9), 2) for n in scaled},
            "jobs": {n: sn["jobs"] for n, (_, sn) in sides.items()},
            "base_jobs": {n: s1["jobs"] for n, (s1, _) in sides.items()},
        })


# ---------------------------------------------------------------------------
# profile: per-query noop/count walls and plan captures
# ---------------------------------------------------------------------------


def profile(tag: str, names: list[str]) -> None:
    """The noop sink times the computation, not the sink or the count's
    column pruning; ``.count()`` keeps continuity with ``bench.py``."""
    _known(names, ALL_QUERIES)
    reps = int(os.environ.get("PROFILE_REPS", "3"))
    plans = os.environ.get("PLANS_DIR") or tempfile.mkdtemp(prefix="mgo_plans_")
    os.makedirs(plans, exist_ok=True)
    with Harness("measure_profile") as h:
        print(f"# sf_dir={SF_DIR} reps={reps} tag={tag} plans={plans}")
        print(f"{'query':32s} {'noop_s':>8s} {'count_s':>8s} {'exch':>5s} {'jobs':>5s}")
        for name in names or HEADLINE:
            fn = ALL_QUERIES[name]

            def capture(d):
                df = fn(h.spark, d)
                df.count()
                return {"plan": df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")}

            plan = h.run(capture, SF_DIR, f"{name}: warmup")["plan"]
            with open(f"{plans}/{name}_{tag}.txt", "w") as f:
                f.write(plan)
            exch = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))
            noop, count = [], []
            for r in range(reps):
                noop.append(h.run(
                    lambda d: fn(h.spark, d).write.format("noop").mode("overwrite").save() or {},
                    SF_DIR, f"{name}: noop rep {r}",
                ))
                count.append(h.run(lambda d: fn(h.spark, d), SF_DIR, f"{name}: count rep {r}"))
            print(
                f"{name:32s} {min(s['t'] for s in noop):8.3f} "
                f"{min(s['t'] for s in count):8.3f} {exch:5d} {count[0]['jobs']:5d}"
            )


# ---------------------------------------------------------------------------
# smoke ops: headline operators
# ---------------------------------------------------------------------------

MONEY = "decimal(12,2)"


def _op(fn):
    return lambda h, df: fn(df)


def _a1(h, df):
    return (
        df.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast(MONEY)), 2),
            F.round(F.sum(F.col("l_extendedprice").cast(MONEY)), 2),
            F.count(F.lit(1)),
        )
    )


def _topk(h, df):
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)


def _skewed_salted(h, df):
    # adversarial skew: half of all rows collapse onto one hot key AND the
    # input arrives clustered by it — the layout where a partition-id
    # salt spreads nothing; the row salt must still fan the hot key out
    skewed = df.withColumn(
        "hot_key",
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(0)).otherwise(F.col("l_orderkey")),
    ).repartition(F.col("hot_key"))
    return salted_sum(
        skewed,
        ["hot_key"],
        {"sum_qty": F.sum(F.col("l_quantity").cast(MONEY)), "n": F.count(F.lit(1))},
    )


def _cc(h, df):
    # pairs scale ~linearly (replicas share no shingles), so the CC
    # rounds see linear edge growth at constant diameter
    pairs = ngram_jaccard_pairs(
        df, "text", "doc_id", block_cols=("lang", "source"),
        shingle_k=1, threshold=0.5,
    )
    return connected_components(pairs.select("id_a", "id_b"))


def _decon(h, df):
    ev = df.where(F.col("doc_id") % 23 == 0)
    return decontaminate(df.where(F.col("doc_id") % 23 != 0), ev, "text", "doc_id")


def _incr(h, df):
    return incremental_minhash_dedup(
        df.where(F.col("doc_id") % 5 != 0),
        df.where(F.col("doc_id") % 5 == 0),
        "text",
        "doc_id",
    )


def _substr(h, df):
    # a computed-column filter keeps Catalyst from eliminating the
    # unique-key left join (and the gram pipeline) under a count-only plan
    return exact_substring_dedup(df, "text", "doc_id", k=8).where(F.col("n_removed") >= 0)


def _substr_longdoc(h, df):
    # the per-doc cost case: 12k-token docs, half of each one shared
    # duplicated block, the long-doc count scaling with the input
    n_long = max(4, df.count() // 2000)
    base = df.sparkSession.range(n_long).select(F.col("id").alias("doc_id"))
    six_k = F.sequence(F.lit(0), F.lit(5999))
    shared = F.array_join(
        F.transform(six_k, lambda i: F.concat(F.lit("s"), i.cast("string"))), " "
    )
    uniq = F.array_join(
        F.transform(
            six_k,
            lambda i: F.concat(
                F.lit("u"), F.col("doc_id").cast("string"), F.lit("_"), i.cast("string")
            ),
        ),
        " ",
    )
    docs = base.select("doc_id", F.concat(shared, F.lit(" "), uniq).alias("text"))
    return exact_substring_dedup(docs, "text", "doc_id", k=8).where(F.col("n_removed") >= 0)


def _asof(h, ev):
    trades = ev.where(F.col("event_id") % 2 == 1)
    quotes = ev.where(F.col("event_id") % 2 == 0)
    return asof_join(trades, quotes, key_cols=("user_id",), right_cols=("event_id", "value"))


def _rjoin(h, df):
    iv = local_table(h.spark, [(i, i * 500, i * 500 + 450) for i in range(5)],
                     "iid bigint, s bigint, e bigint")
    pts = df.select((F.col("l_orderkey") % 2400).alias("x"), "l_quantity")
    return range_join(pts, iv, "x", "s", "e", bucket_width=500).groupBy("iid").agg(
        F.count(F.lit(1))
    )


def _kmv(h, df):
    return kmv_distinct(df, ("l_returnflag",), "l_orderkey", k=64)


def _sess(h, ev):
    s = sessionize(
        ev.select("event_id", "user_id", "ts", "value"),
        "user_id", "ts", 21600, tiebreak_col="event_id",
    )
    return s.groupBy("user_id", "session_no").agg(F.count(F.lit(1)).alias("n"))


def _gap_fill(h, ev):
    # the grid is ts-span-bound (constant across factors); only the
    # bucket aggregation's input scales
    return gap_fill_locf(
        ev.select("event_type", "ts", "value"), ("event_type",), "ts", 3600, "value"
    )


def _cms(h, df):
    toks = df.select(
        F.explode(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != F.lit(""))
        ).alias("token")
    )
    return cms_heavy_hitters(toks, "token", threshold=200)


def _bm25(h, df):
    # replica text is token-prefixed, so candidates stay 1×-sized; the
    # scaling cost is the index build over the N× corpus
    return bm25_topk(df, ["hash", "join", "vector"], "text", "doc_id", k=15)


def _funnel(h, ev):
    return funnel(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"],
                  within_seconds=86400)


def _zscore(h, ev):
    return standardize(ev.select("event_id", "event_type", "value"), ("event_type",), "value")


def _profile_cols(h, df):
    return profile_columns(df, ["o_orderstatus", "o_orderpriority", "o_custkey"])


def _tdiff(h, df):
    old = df.where(F.col("o_orderkey") % 97 != 0)
    new = df.where(F.col("o_orderkey") % 89 != 0)
    return table_diff(old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]).groupBy(
        "diff_status"
    ).agg(F.count(F.lit(1)))


def _cdc(h, df):
    t = df.select("o_orderkey", "o_orderstatus", "o_totalprice")
    ch = t.where(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit(2).alias("seq"), F.lit("U").alias("op"),
    )
    return apply_cdc(t, ch, ["o_orderkey"], "seq", "op").groupBy("o_orderstatus").agg(
        F.count(F.lit(1))
    )


def _mix(h, df):
    return mixture_sample(
        df, "lang", {"de": 0.5, "en": 0.25, "zh": 0.25}, 8000, "text", "doc_id"
    ).groupBy("lang").agg(F.count(F.lit(1)))


def _qmodel(h, df):
    return hashed_linear_score(df, qmodel_weights(h.spark), 4096)


def _lm_ppl(h, df):
    # model on the en subset, score everything — the registered query's shape
    return lm_perplexity_score(df, df.where(F.col("lang") == "en"), 2048).groupBy(
        "ppl_bucket"
    ).agg(F.count(F.lit(1)))


def _dsir(h, df):
    return dsir_importance_weight(df, df.where(F.col("lang") == "en"), 4096)


def _urls(h, df):
    dk = F.col("doc_id")
    fixture = df.select(
        dk,
        F.concat_ws(
            " ", F.col("text"), F.lit("see"),
            F.format_string("https://www.s%d.site%d.com/p/%d?x=1", dk % 5, dk % 17, dk),
        ).alias("web_text"),
    )
    return domain_stats(fixture, "web_text", "doc_id")


def _zorder(h, df):
    base = h.tmp("zw_")
    zorder_write(
        h.spark, df.select("o_orderkey", "o_custkey", "o_totalprice"),
        base, "z", ["o_custkey", "o_totalprice"], num_files=32,
    )
    return h.spark.read.parquet(os.path.join(base, "z.parquet"))


def _bloom(h, df):
    b = bloom_build(df, "o_custkey", m_bits=65536, n_hashes=4)
    return bloom_membership(h.read("customer"), "c_custkey", b, 65536, 4)


def _hq(h, df):
    hist = value_histogram(df, ("o_orderstatus",), "o_totalprice", 128)
    return histogram_quantiles(hist, ("o_orderstatus",), (0.5, 0.95), 128)


def _pq(h, df):
    return pq_encode(df, pq_codebooks(df, 8, 16, 64), 8, 64)


def _curation(h, df):
    # the composed chain is path-driven: route by corpus identity
    sf_dir = h.sf_dir if df is h.inputs("documents")[0] else h.big
    return q_curation_pipeline(h.spark, sf_dir)


def _dedup_apply(h, df):
    # star edges → CC → keep-one → partitioned MERGE rewrite → read back
    docs = df.select("doc_id", "text")
    kept = dedup_apply(docs, connected_components(exact_star_edges(docs)), "doc_id")
    base = h.tmp("da_")
    partitioned_upsert(h.spark, kept, base, "c", "doc_id", num_buckets=16)
    return read_partitioned(h.spark, base, "c")


def _relabeled(h, df):
    # identical replica vectors would grow cluster SIZE N× (quadratic
    # pairs); each replica gets its own label band (recoverable from the
    # key shift), so clusters stay 1×-sized and cluster count grows
    rep = F.floor(F.col("vec_id") / F.lit(10 * h.rows("embeddings")))
    return df.withColumn("label", (F.col("label") + rep * 10).cast("int"))


def _semdedup(h, df):
    # kept >= 0 forces the verdict column under the count-only plan
    return semantic_dedup(_relabeled(h, df), threshold=0.3).where(F.col("kept") >= 0)


def _semdedup_inc(h, df):
    relabeled = _relabeled(h, df)
    return incremental_semantic_dedup(
        relabeled.where(F.col("vec_id") % 5 != 0),
        relabeled.where(F.col("vec_id") % 5 == 0),
        threshold=0.3,
    ).where(F.col("kept") >= 0)


def _semdedup_routed(h, df):
    # route_bits grows with cluster count (4 + log2(growth)) so bucket
    # occupancy, and the per-vector candidate set, stays ~constant
    bits = 4 + max(0, round(math.log2(max(df.count(), 1) / h.rows("embeddings"))))
    return semantic_dedup(
        _relabeled(h, df), threshold=0.3, route_bits=bits, dim=64
    ).where(F.col("kept") >= 0)


def _semdedup_inc_indexed(h, df):
    # the production incremental shape: the corpus assignment is a
    # stored index, built outside the timed region, and the delta is
    # fixed-size (the 1× key range's %5 slice at both scales)
    relabeled = _relabeled(h, df)
    n1 = h.rows("embeddings")
    fixed = (F.col("vec_id") < n1) & (F.col("vec_id") % 5 == 0)
    delta, corpus = relabeled.where(fixed), relabeled.where(~fixed)

    def prebuild():
        cents = ivf_centroids(relabeled).persist()
        idx = semantic_assign(corpus, cents).persist()
        idx.count()
        cents.count()
        return idx, cents

    idx, cents = h.memo(("index", id(df)), prebuild)
    return incremental_semantic_dedup(
        corpus, delta, threshold=0.3, corpus_index=idx, centroids=cents
    ).where(F.col("kept") >= 0)


def _enc_near_dup(h, df):
    # sign-block bits follow the sizing rule (6 + log2(growth)) so block
    # sizes stay ~constant as the corpus grows
    bits = 6 + max(0, round(math.log2(max(df.count(), 1) / h.rows("documents"))))
    enc = encode_documents(df, dim=32)
    blocked = enc.withColumn("label", rh_signature(F.col("embedding"), rh_planes(bits, 32)))
    return embedding_near_dup(blocked, "embedding", "doc_id", "label", threshold=0.8)


# Fixed-delta merges: the partition-pruned MERGE claim is that a
# SAME-SIZED delta costs the same against an N× bigger table (ratio ≈ 1)
# where the flat whole-table rewrite scales ~N×. Hash buckets prune only
# while |delta keys| ≲ num_buckets, so the hash cases use a 10-key delta;
# the wide recency-skewed delta is the range-bucket case. Each case times
# only the delta merge.


def _delta(h):
    or_1x = h.inputs("orders")[0]
    return h.memo("delta", lambda: or_1x.where(F.col("o_orderkey") % 14983 == 0)
                  .withColumn("o_orderpriority", F.lit("DELTA")))


def _tail(h):
    """The top keys of the 1× range (mid-range but contiguous against the
    N× table, which is what range mode needs) and the range width."""
    def make():
        or_1x = h.inputs("orders")[0]
        max_key = or_1x.agg(F.max("o_orderkey")).collect()[0][0]
        tail = or_1x.where(F.col("o_orderkey") > max_key - 3000).withColumn(
            "o_orderpriority", F.lit("DELTA"))
        return tail, int(max_key // 64) + 1

    return h.memo("tail", make)


def _timed(step):
    t0 = time.time()
    step()
    return time.time() - t0, {}


def _flat_delta(h, df):
    base = h.tmp("m_")
    overwrite(df, base, "t")
    return _timed(lambda: upsert(h.spark, _delta(h), base, "t", "o_orderkey"))


def _pmerge_delta(h, df):
    base = h.tmp("m_")
    partitioned_upsert(h.spark, df, base, "t", "o_orderkey", num_buckets=64)
    return _timed(lambda: partitioned_upsert(h.spark, _delta(h), base, "t", "o_orderkey"))


def _pmerge_range_tail(h, df):
    base = h.tmp("m_")
    tail, width = _tail(h)
    partitioned_upsert(h.spark, df, base, "t", "o_orderkey", range_width=width)
    return _timed(lambda: partitioned_upsert(h.spark, tail, base, "t", "o_orderkey"))


def _scd2_pmerge_delta(h, df):
    base = h.tmp("m_")
    partitioned_scd2_upsert(
        h.spark, df, base, "t", "o_orderkey", "2024-01-01 00:00:00", num_buckets=64
    )
    return _timed(lambda: partitioned_scd2_upsert(
        h.spark, _delta(h), base, "t", "o_orderkey", "2024-06-01 00:00:00"))


def _scd2_cdc_delta(h, df):
    # CDC feed → SCD2 with a fixed-size feed (10 U + a few D tombstones)
    base = h.tmp("m_")
    t3 = df.select("o_orderkey", "o_orderstatus", "o_totalprice")
    init = t3.select("*", F.lit(1).alias("seq"), F.lit("I").alias("op"))
    scd2_apply_cdc(h.spark, init, base, "t", "o_orderkey", "seq", "op",
                   "2024-01-01 00:00:00", num_buckets=64)
    d3 = _delta(h).select("o_orderkey", "o_orderstatus", "o_totalprice")
    feed = d3.select(
        "o_orderkey", F.lit("X").alias("o_orderstatus"), "o_totalprice",
        F.lit(1).alias("seq"), F.lit("U").alias("op"),
    ).unionByName(
        d3.where(F.col("o_orderkey") % 2 == 0).select(
            "*", F.lit(2).alias("seq"), F.lit("D").alias("op"))
    )
    return _timed(lambda: scd2_apply_cdc(
        h.spark, feed, base, "t", "o_orderkey", "seq", "op", "2024-06-01 00:00:00"))


# table → replication (key, shift, rewrite); shift None = 10 × rows
OPS_TABLES = {
    "lineitem": ("l_orderkey", None, None),
    "documents": ("doc_id", None, token_prefix()),
    "events": ("event_id", None, None),
    "orders": ("o_orderkey", None, None),
    "embeddings": ("vec_id", None, None),
}
OPS_CASES = {
    "flat_merge_fixed_delta": (_flat_delta, "orders"),
    "pmerge_10key_delta": (_pmerge_delta, "orders"),
    "pmerge_range_tail_delta": (_pmerge_range_tail, "orders"),
    "scd2_pmerge_10key_delta": (_scd2_pmerge_delta, "orders"),
    "scd2_cdc_fixed_feed": (_scd2_cdc_delta, "orders"),
    "a1_agg": (_a1, "lineitem"),
    "zorder_write": (_zorder, "orders"),
    "bloom_build_probe": (_bloom, "orders"),
    "histogram_quantiles": (_hq, "orders"),
    "pq_encode": (_pq, "embeddings"),
    "w2_topk": (_topk, "lineitem"),
    "skew_salted_sum": (_skewed_salted, "lineitem"),
    "minhash_lsh": (_op(minhash_lsh_dedup), "documents"),
    "simhash": (_op(simhash_dedup), "documents"),
    "cc_clusters": (_cc, "documents"),
    "paragraph_dedup": (_op(paragraph_dedup), "documents"),
    "substring_dedup": (_substr, "documents"),
    "substring_dedup_longdoc": (_substr_longdoc, "documents"),
    "decontaminate": (_decon, "documents"),
    "pack_shards": (_op(pack_shards), "documents"),
    "incremental_dedup": (_incr, "documents"),
    "asof_join": (_asof, "events"),
    "range_join": (_rjoin, "lineitem"),
    "ht_rollup": (_op(hypertable_rollup), "events"),
    "kmv_distinct": (_kmv, "lineitem"),
    "sessionize": (_sess, "events"),
    "gap_fill_locf": (_gap_fill, "events"),
    "cms_heavy_hitters": (_cms, "documents"),
    "bm25_topk": (_bm25, "documents"),
    "quality_filter": (_op(quality_filter), "documents"),
    "url_domain_stats": (_urls, "documents"),
    "funnel": (_funnel, "events"),
    "retention_cohorts": (lambda h, ev: retention_cohorts(ev, "user_id", "ts"), "events"),
    "zscore_standardize": (_zscore, "events"),
    "profile_columns": (_profile_cols, "orders"),
    "table_diff": (_tdiff, "orders"),
    "cdc_apply": (_cdc, "orders"),
    "mixture_sample": (_mix, "documents"),
    "qmodel_score": (_qmodel, "documents"),
    "lm_perplexity": (_lm_ppl, "documents"),
    "dsir_weight": (_dsir, "documents"),
    "bpe_encode": (_op(bpe_encode), "documents"),
    "dedup_apply_rewrite": (_dedup_apply, "documents"),
    "encoded_near_dup": (_enc_near_dup, "documents"),
    "semantic_dedup": (_semdedup, "embeddings"),
    "semantic_dedup_routed": (_semdedup_routed, "embeddings"),
    "semantic_dedup_inc": (_semdedup_inc, "embeddings"),
    "semantic_dedup_inc_indexed": (_semdedup_inc_indexed, "embeddings"),
    "curation_pipeline": (_curation, "documents"),
}


def smoke_ops(h, cases):
    h.scale({t: OPS_TABLES[t] for t in sorted({OPS_CASES[c][1] for c in cases})})
    if "semantic_dedup_inc_indexed" in cases:
        # the case's premise is a prebuilt index: build both before timing
        for df in h.inputs("embeddings"):
            _semdedup_inc_indexed(h, df)
    results = {}
    for name in cases:
        fn, table = OPS_CASES[name]
        results[name] = h.row(*h.pair(name, lambda df: fn(h, df), *h.inputs(table)))
    if "semantic_dedup_routed" in results:
        # routing quality at the big scale: a rising unrouted (probe-miss)
        # rate means route_bits outgrew the corpus's cluster tightness
        row = _semdedup_routed(h, h.inputs("embeddings")[1]).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("cluster_id").isNull(), 1).otherwise(0)).alias("miss"),
        ).collect()[0]
        release_intermediates()
        results["semantic_dedup_routed"]["unrouted_pct"] = round(
            100.0 * row["miss"] / max(row["n"], 1), 2
        )
    emit({"factor": h.factor, "cases": results})


# ---------------------------------------------------------------------------
# smoke pairs: the super-linear-risk pair generators
# ---------------------------------------------------------------------------


def _lsh_drop_stats(df, cap: int = 1000) -> dict:
    """LSH band buckets over ``cap``, rows dropped, implied candidate
    pairs never generated."""
    sizes = (
        _banded_signatures(df, "text", "doc_id", 16, 4, 3, None)
        .groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    return _drops(sizes, cap, "capped_buckets")


def _block_drop_stats(df, cap: int) -> dict:
    """(lang, source) Jaccard blocks over ``cap`` and their skipped pairs."""
    return _drops(df.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("s")),
                  cap, "capped_blocks")


def _drops(sizes, cap, label) -> dict:
    row = sizes.where(F.col("s") > cap).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("s"), F.lit(0)).alias("rows"),
        F.coalesce(F.sum(F.col("s") * (F.col("s") - 1) / 2), F.lit(0.0)).alias("pairs"),
    ).collect()[0]
    return {label: row["n"], "dropped_rows": int(row["rows"]),
            "dropped_pairs": int(row["pairs"])}


def _cc_blocked(df):
    pairs = ngram_jaccard_pairs(
        df, "text", "doc_id", block_cols=("lang", "source"),
        shingle_k=1, threshold=0.5, max_block_size=1000,
    )
    return connected_components(pairs.select("id_a", "id_b"))


PAIR_CASES = {
    "minhash_lsh": _op(minhash_lsh_dedup),
    # oversized-bucket salvage forced by an adversarially low cap (the
    # dedup_minhash_salvage member's parameters)
    "minhash_salvage": _op(
        lambda df: minhash_lsh_dedup(df, max_bucket_size=2, salvage_depth=4)),
    "incremental": _incr,
    # CC over the LSH pair generator, the web-scale route: coarse
    # (lang, source) blocks at 64× sit just under the default 10k cap and
    # explode Σ|block|²; cc_blocked_capped keeps a cap that engages
    "cc_cluster": _op(lambda df: connected_components(
        minhash_lsh_dedup(df).select("id_a", "id_b"))),
    "cc_blocked_capped": _op(_cc_blocked),
}


def smoke_pairs(h, cases):
    h.scale({"documents": OPS_TABLES["documents"]})
    docs_1x, docs_nx = h.inputs("documents")
    results = {
        name: h.row(*h.pair(name, lambda df: PAIR_CASES[name](h, df), docs_1x, docs_nx),
                    per_unit=True, both=("rows",))
        for name in cases
    }
    drops = {}
    if len(cases) == len(PAIR_CASES):  # full runs keep the cap accounting
        n = h.factor
        drops = {
            "lsh_cap1000_1x": _lsh_drop_stats(docs_1x),
            f"lsh_cap1000_{n}x": _lsh_drop_stats(docs_nx),
            "block_cap1000_1x": _block_drop_stats(docs_1x, 1000),
            f"block_cap1000_{n}x": _block_drop_stats(docs_nx, 1000),
            f"block_cap10000_{n}x": _block_drop_stats(docs_nx, 10_000),
        }
    emit({"factor": h.factor, "cases": results, "cap_drops": drops})


# ---------------------------------------------------------------------------
# smoke ann: IVF/PQ posting lists, probes and recall under growth
# ---------------------------------------------------------------------------

ANN_K, ANN_QUERIES = 5, 5
# tag → (replication factor, None = the run's; labels per replica)
ANN_TAGS = {"base": (1, False), "fixed": (None, False), "scaled": (None, True)}


def _recall(approx, exact) -> float:
    """Mean per-query |approx top-k ∩ exact top-k| / k."""
    hits = approx.select("query_id", "corpus_id").join(
        exact.select("query_id", "corpus_id"), ["query_id", "corpus_id"]
    ).count()
    n_q = exact.select("query_id").distinct().count()
    return round(hits / (ANN_K * max(n_q, 1)), 3)


def _ann_timed(make) -> tuple[DataFrame, int, float]:
    t0 = time.time()
    df = make().persist()
    n = df.count()
    return df, n, round(time.time() - t0, 2)


def smoke_ann(h, cases):
    """``fixed`` keeps the base centroid count (posting lists grow N×, the
    mis-sized deployment); ``scaled`` grows it with the corpus (labels per
    replica, lists stay base-sized, recall recovered by probing more
    lists). Recall is against the brute-force top-5 of the same corpus."""
    emb = h.read("embeddings")
    n, n_labels = emb.count(), emb.select("label").distinct().count()
    out = {"metric": "ann_scale_smoke", "factor": h.factor, "sf_dir": h.sf_dir}
    for tag in cases:
        fac, per_replica = ANN_TAGS[tag]
        rewrite = (perturb_vectors(),) + ((label_shift("label", n_labels),) if per_replica else ())
        corpus = replicate(emb, "vec_id", fac or h.factor, 10 * n, rewrite).persist()
        q = corpus.where(F.col("vec_id") < ANN_QUERIES).select(
            F.col("vec_id").alias("query_id"), "embedding")
        posting = corpus.groupBy("label").count().agg(
            F.count(F.lit(1)).alias("n_lists"),
            F.max("count").alias("max_list"),
            F.round(F.avg("count"), 1).alias("avg_list"),
        ).collect()[0]
        small = posting["n_lists"] <= 16
        exact, _, t_brute = _ann_timed(lambda: cosine_topk(corpus, q, k=ANN_K))
        section = {
            "rows": corpus.count(),
            "n_lists": posting["n_lists"],
            "max_list": posting["max_list"],
            "avg_list": float(posting["avg_list"]),
            "t_brute": t_brute,
            "ivf": {},
        }
        # how many posting lists must be scanned to hold the recall floor
        for p in (1, 2, 4, 8) if small else (1, 2, 4, 8, 16, 64):
            approx, _, t = _ann_timed(lambda: ivf_topk(corpus, q, k=ANN_K, n_probes=p))
            section["ivf"][f"p{p}"] = {"recall": _recall(approx, exact), "sec": t}
            approx.unpersist()
        pq, _, t = _ann_timed(lambda: pq_topk(corpus, q, k=ANN_K))
        section["pq"] = {"recall": _recall(pq, exact), "sec": t}
        pq.unpersist()
        # the composed index, probes at the plain-IVF sweep's knee
        probes = 2 if small else 8
        ipq, _, t = _ann_timed(lambda: ivfpq_topk(corpus, q, k=ANN_K, n_probes=probes))
        section["ivfpq"] = {"n_probes": probes, "recall": _recall(ipq, exact), "sec": t}
        ipq.unpersist()
        # metadata-filtered probes: 'pre' prunes list members before
        # ranking and returns the full filtered top-k; 'post' ranks the
        # unfiltered lists and drops afterwards (the under-fill contract,
        # measured as returned-row shortfall). ~14% selectivity.
        pred = "vec_id % 7 = 0"
        fexact, n_full, t_fbrute = _ann_timed(lambda: cosine_topk(corpus.where(pred), q, k=ANN_K))
        fpre, n_pre, t_pre = _ann_timed(lambda: ivf_topk(
            corpus, q, k=ANN_K, n_probes=probes, predicate=pred, filter_mode="pre"))
        fpost, n_post, t_post = _ann_timed(lambda: ivf_topk(
            corpus, q, k=ANN_K, n_probes=probes, predicate=pred, filter_mode="post"))
        section["filtered"] = {
            "n_probes": probes,
            "t_brute_filtered": t_fbrute,
            "pre": {"recall": _recall(fpre, fexact), "rows": n_pre, "sec": t_pre},
            "post": {"rows": n_post, "rows_full": n_full, "sec": t_post},
        }
        for df in (fpre, fpost, fexact, exact, corpus):
            df.unpersist()
        release_intermediates()
        out[tag] = section
    emit(out)


# ---------------------------------------------------------------------------
# smoke er: batch, fixed-delta incremental and multi-pass resolution
# ---------------------------------------------------------------------------

ER_MAX_BLOCK = 20_000  # every block stays far below it at 1×
ER_MULTI_BLOCKS = ["block_key", "block_key2"]  # nationkey ∪ phone-prefix passes
ER_CASES = ("batch", "inc_fixed", "inc_changed", "batch_multi", "inc_multi")


def _er_fixture(h, multi: bool):
    """Records replicated by the grow-block-COUNT rule, plus the fixed
    delta (replica 0's v1 variants, identical at both scales) and the
    standing corpus without it at each scale."""
    base = (_er_multi_records if multi else _er_records)(h.spark, h.sf_dir)
    n_keys = base.agg(F.max("rec_id")).collect()[0][0] + 1
    recs_1x = base.localCheckpoint(eager=True)
    recs_nx = replicate(recs_1x, "rec_id", h.factor, 10 * n_keys, block_key_prefix)
    is_delta = F.col("rec_id") % 10 == 1
    # at N× replicas > 0 keep their v1 rows: only replica 0 ingests
    corpus_nx = recs_nx.where(~(is_delta & (F.col("rec_id") < 10 * n_keys)))
    return {
        "recs": (recs_1x, recs_nx.localCheckpoint(eager=True)),
        "delta": recs_1x.where(is_delta).localCheckpoint(eager=True),
        "corpus": (recs_1x.where(~is_delta).localCheckpoint(eager=True),
                   corpus_nx.localCheckpoint(eager=True)),
    }


def smoke_er(h, cases):
    """batch should grow ~linearly (per-block pairs constant × N
    blocks); the fixed-delta ingests should hold near flat, the
    touched-component prune keeping them to the delta's neighborhood."""
    results = {}
    for name in cases:
        multi = name.endswith("_multi")
        fx = h.memo(("er", multi), lambda: _er_fixture(h, multi))
        kw = {"max_block": ER_MAX_BLOCK}
        if multi:
            kw["block_col"] = ER_MULTI_BLOCKS
        if name.startswith("batch"):
            s1, sn = h.pair(name, lambda r: resolve_entities(r, **kw), *fx["recs"])
            results.update(h.sides(name, s1, sn))
            continue
        asg = h.memo(("er_asg", multi), lambda: tuple(
            resolve_entities(c, **kw).localCheckpoint(eager=True) for c in fx["corpus"]))
        # emit='changed' is the streaming/MERGE shape: no carry scan
        emit_kw = {} if name == "inc_fixed" else {"emit": "changed"}
        s1, sn = h.pair(
            name,
            lambda ca: incremental_resolve_entities(
                ca[0], fx["delta"], corpus_assignment=ca[1], **kw, **emit_kw),
            *zip(fx["corpus"], asg),
        )
        results.update(h.sides(name, s1, sn, per_unit=False))
    emit({"factor": h.factor, "cases": results})


# ---------------------------------------------------------------------------
# smoke graph: PageRank and truss communities on a ring of cliques
# ---------------------------------------------------------------------------

GRAPH_CASES = ("pagerank", "truss", "trussinc", "trussmrg")


def ring_of_cliques(spark, n_cliques: int, k: int):
    """Edges of n_cliques k-cliques plus one bridge between consecutive
    cliques (a ring): clique size fixed (bounded degree), clique count
    grows; one component for PageRank, while truss communities must
    still resolve every clique (bridges sit in no triangle)."""
    pairs_per = k * (k - 1) // 2
    c = (F.col("id") / pairs_per).cast("long")
    p = F.col("id") % pairs_per
    # i = row of the triangular index (largest i with i*(2k-i-1)/2 <= p)
    i = F.expr(
        f"CAST(floor(({k} * 2 - 1 - sqrt(({k} * 2 - 1) * ({k} * 2 - 1)"
        f" - 8 * (id % {pairs_per}))) / 2) AS BIGINT)"
    )
    j = p - i * (2 * k - i - 1) / 2 + i + 1
    clique_edges = spark.range(n_cliques * pairs_per).select(
        F.format_string("n%d", c * k + i).alias("src"),
        F.format_string("n%d", (c * k + j).cast("long")).alias("dst"),
    )
    bridges = spark.range(n_cliques).select(
        F.format_string("n%d", F.col("id") * k).alias("src"),
        F.format_string("n%d", ((F.col("id") + 1) % n_cliques) * k + 1).alias("dst"),
    )
    return clique_edges.unionByName(bridges)


def _graph_fixture(h, k, n1):
    """Both graphs plus one bare 7-ring on fresh nodes; the delta is its
    distance-2 chords (the old-edge-flip case). The stored support and
    assignment relations are precomputed, as tables are in production."""
    def dring(hop):
        return h.spark.range(7).select(
            F.format_string("d%d", F.col("id")).alias("src"),
            F.format_string("d%d", (F.col("id") + hop) % 7).alias("dst"),
        )

    gs = [ring_of_cliques(h.spark, n, k).localCheckpoint(eager=True)
          for n in (n1, n1 * h.factor)]
    corp = [g.unionByName(dring(1)).localCheckpoint(eager=True) for g in gs]
    return {
        "graph": gs,
        "chords": dring(2).localCheckpoint(eager=True),
        "corpus": corp,
        "support": [edge_support(_sym(c, "src", "dst")).localCheckpoint(eager=True)
                    for c in corp],
    }


def smoke_graph(h, cases, k=8, n1=50):
    """PageRank is one join + one shuffle per iteration (linear in |E|);
    truss support is the wedge join (Σ deg², linear at bounded degree)
    and its CC tail converges in O(1) rounds on clique-local labels. The
    incremental truss returns the full assignment, so its linear carry
    shows; the MERGE shape (stored assignment, emit='changed') should
    hold ~flat."""
    fx = _graph_fixture(h, k, n1)
    results = {}
    for name in cases:
        if name in ("pagerank", "truss"):
            fn = pagerank if name == "pagerank" else truss_communities
            results.update(h.sides(name, *h.pair(name, fn, *fx["graph"])))
            if name == "truss":
                n_comm = truss_communities(fx["graph"][0]).select("community").distinct().count()
                results["truss_sanity"] = {"communities_1x": n_comm, "expected": n1}
            continue
        kws = [{"corpus_support": sup} for sup in fx["support"]]
        if name == "trussmrg":
            for kw, c in zip(kws, fx["corpus"]):
                kw.update(emit="changed",
                          corpus_assignment=truss_communities(c).localCheckpoint(eager=True))
        s1, sn = h.pair(
            name,
            lambda ck: incremental_truss_communities(ck[0], fx["chords"], **ck[1]),
            *zip(fx["corpus"], kws),
        )
        results.update(h.sides(name, s1, sn, per_unit=name == "trussinc"))
    emit({"factor": h.factor, "cases": results})


# ---------------------------------------------------------------------------
# smoke bpe: batched merge learning, rounds ≪ merges
# ---------------------------------------------------------------------------

BPE_CASES = ("docs", "zipf")


def _zipf_corpus(spark):
    """Zipf-weighted words over a 32-symbol alphabet (two differently
    translated md5 halves): counts separate and the batch fills, where
    the near-uniform documents vocabulary is tie-heavy (the worst case
    for exact batching); a 16-symbol alphabet would make every pair share
    tokens and cap exact batching at the alphabet."""
    hexd = "0123456789abcdef"
    word = F.concat(
        F.translate(F.substring(F.md5(F.col("id").cast("string")), 1, 4),
                    hexd, "abcdefghijklmnop"),
        F.translate(
            F.substring(F.md5(F.concat(F.col("id").cast("string"), F.lit("x"))), 1, 4),
            hexd, "qrstuvwxyz012345",
        ),
    )
    return spark.range(1, 600).select(
        F.explode(F.array_repeat(word, (F.lit(3000) / F.col("id")).cast("int") + 1)).alias("text"),
        F.col("id").alias("doc_id"),
    ).localCheckpoint(eager=True)


def smoke_bpe(h, cases):
    """One merge per driver round vs batched top-16 exact learning on the
    same corpus: the tables must be identical; at a 32k-merge vocab the
    round count is the driver-job count being collapsed. ``zipf`` adds the
    approximate mode (exact=False), whose rounds fall toward merges ÷ 16.
    The run's factor is the merge count."""
    merges = h.factor
    out: dict = {"num_merges": merges}

    def train(label, corpus, **kw):
        st: dict = {}
        t0 = time.time()
        table = bpe_train(corpus, merges, stats=st, **kw)
        out[label] = {"t": round(time.time() - t0, 2), "rounds": st["rounds"],
                      "merges": len(table)}
        note({label: out[label]})
        return table

    def seq_vs_batched(prefix, corpus):
        seq = train(f"{prefix}seq", corpus, merges_per_round=1)
        batched = train(f"{prefix}batched", corpus, merges_per_round=16)
        if seq != batched:
            raise SystemExit(f"{prefix}batched table diverged from sequential")
        out[f"{prefix}rounds_ratio"] = round(
            out[f"{prefix}seq"]["rounds"] / max(out[f"{prefix}batched"]["rounds"], 1), 2)

    if "docs" in cases:
        docs = h.read("documents").localCheckpoint(eager=True)
        bpe_train(docs, 4)  # warm the code path
        seq_vs_batched("", docs)
        out["speedup"] = round(out["seq"]["t"] / max(out["batched"]["t"], 1e-9), 2)
    if "zipf" in cases:
        zipf = _zipf_corpus(h.spark)
        seq_vs_batched("zipf_", zipf)
        train("zipf_approx", zipf, merges_per_round=16, exact=False)
        out["zipf_approx_rounds_ratio"] = round(
            out["zipf_seq"]["rounds"] / max(out["zipf_approx"]["rounds"], 1), 2)
    emit(out)


# ---------------------------------------------------------------------------
# smoke curation / elt: composed chains with ledgers and disk
# ---------------------------------------------------------------------------

CURATION_CHAINS = {
    "curation": lambda h, sd: q_curation_pipeline(h.spark, sd),
    "curation_scored": lambda h, sd: q_curation_scored_pipeline(h.spark, sd),
    # sign-block COUNT grows with the corpus (6 + log2(growth) bits), else
    # stage-4 pairs grow as block-size²
    "curation_semantic": lambda h, sd: q_curation_semantic_pipeline(
        h.spark, sd,
        sem_bits=6 + max(0, round(math.log2(h.factor))) if sd != h.sf_dir else 6,
    ),
}


def smoke_curation(h, cases):
    """The chains are driver-job dominated at benchmark scale (persists,
    1-row ledger aggregates, CC gating, sink commits); the record adds
    the N× run's peak disk and both ledgers, so per-stage selectivity
    reads against corpus growth."""
    h.scale({"documents": ("doc_id", None, non_stopword_prefix())})
    results = {}
    for name in cases:
        chain = CURATION_CHAINS[name]
        s1, sn = h.pair(name, lambda sd: {"ledger": _ledger(chain(h, sd))},
                        h.sf_dir, h.big, disk=True)
        results[name] = h.row(s1, sn, both=("ledger",), large=("peak_disk_gb",))
    emit({"factor": h.factor, "cases": results})


def smoke_elt(h, cases):
    """orders and lineitem share one key shift, so messages still attach
    to their tickets; the dimensions stay 1×. What should hold at scale:
    MERGEs shuffle on key only, the recent window bounds everything
    downstream, the convo stage is one Arrow crossing per micro-corpus."""
    shift = 10 * h.read("orders").count()
    h.scale({"orders": ("o_orderkey", shift, None), "lineitem": ("l_orderkey", shift, None)})
    s1, sn = h.pair(
        "elt_parity",
        lambda sd: {"ledger": _ledger(q_elt_parity_pipeline(h.spark, sd))},
        h.sf_dir, h.big, disk=True,
    )
    emit({"factor": h.factor, "cases": {
        "elt_parity": h.row(s1, sn, both=("ledger",), large=("peak_disk_gb",))}})


# ---------------------------------------------------------------------------
# smoke streaming: one fixed micro-batch against an N× standing corpus
# ---------------------------------------------------------------------------
# Per case and scale: pre-populate the stream's state with the standing
# corpus (untimed; a table in production), stage a FIXED delta (same rows
# at both scales, ids past every replica) as micro-batches, time the
# stream run, then check its output against the direct incremental
# operator on the same (corpus, delta).

ER_RULES = {"name": "first_by_key", "phone": "min", "address": "longest"}


def _fixed_delta(h, name, key):
    """The 1× table's %37 slice, ids shifted past every replica, written
    as a stream source directory."""
    def make():
        df = h.inputs(name)[0]
        delta = df.where(F.col(key) % 37 == 0).withColumn(
            key, F.col(key) + F.lit((h.factor + 2) * 10 * h.rows(name)))
        d = h.tmp("delta_")
        delta.write.mode("overwrite").parquet(os.path.join(d, f"{name}.parquet"))
        return delta, d

    return h.memo(("delta", name), make)


def _er_stream(h, multi=False):
    """ER records 1× and N× plus the fixed %41 record delta; single-pass
    adds the pointy deltas (the same slice confined to blocks 3 and 7,
    the trickle regime where the block index can prune) one and two
    shift slots out."""
    def make():
        base = (_er_multi_records if multi else _er_records)(h.spark, h.sf_dir)
        n_keys = base.agg(F.max("rec_id")).collect()[0][0] + 1
        recs = base.localCheckpoint(eager=True)
        past = F.lit((h.factor + 2) * 10 * n_keys)
        slice41 = F.col("rec_id") % 41 == 0
        fx = {
            "recs": (recs, replicate(recs, "rec_id", h.factor, 10 * n_keys, block_key_prefix)),
            "delta": recs.where(slice41).withColumn("rec_id", F.col("rec_id") + past)
            .localCheckpoint(eager=True),
        }
        if not multi:
            pt = recs.where(slice41 & F.col("block_key").isin(3, 7)).withColumn(
                "rec_id", F.col("rec_id") + past).localCheckpoint(eager=True)
            fx["pt"] = pt
            fx["pt2"] = pt.withColumn(
                "rec_id", F.col("rec_id") + F.lit(10 * n_keys)).localCheckpoint(eager=True)
        return fx

    return h.memo(("er_stream", multi), make)


def _state(h, base, name, df, buckets):
    """Seed one state table flat or bucketed."""
    if buckets is None:
        df.write.mode("overwrite").parquet(table_path(base, name))
    else:
        partitioned_upsert(h.spark, df, base, name, "rec_id", num_buckets=buckets)


def _diff(got, want) -> int:
    return got.exceptAll(want).count() + want.exceptAll(got).count()


def _run_incdedup(h, corpus):
    delta, delta_dir = _fixed_delta(h, "documents", "doc_id")
    base = h.tmp("st_")
    corpus.select("doc_id", "text").write.mode("overwrite").parquet(
        table_path(base, "st_corpus"))
    t0 = time.time()
    pairs_path, _ = stream_incremental_dedup(
        h.spark, delta_dir, base, pairs_name="st_pairs", corpus_name="st_corpus",
        n_batches=1,
    )
    wall = time.time() - t0
    got = h.spark.read.parquet(pairs_path).select("id_a", "id_b")
    want = incremental_minhash_dedup(
        corpus.select("doc_id", "text"), delta.select("doc_id", "text")
    ).select("id_a", "id_b")
    return wall, {"pairs": got.count(), "diff_vs_direct": _diff(got, want)}


def _run_scored(h, corpus):
    # stream_scored_ingest writes to its fixed scored_* table names
    _, delta_dir = _fixed_delta(h, "documents", "doc_id")
    base = h.tmp("st_")
    corpus.select("doc_id", "text").write.mode("overwrite").parquet(
        table_path(base, "scored_corpus"))
    t0 = time.time()
    _, corpus_path = stream_scored_ingest(h.spark, delta_dir, base, n_batches=1)
    wall = time.time() - t0
    return wall, {"accepted": h.spark.read.parquet(corpus_path).count() - corpus.count()}


def _run_incsem(h, corpus):
    delta, delta_dir = _fixed_delta(h, "embeddings", "vec_id")
    corpus = _relabeled(h, corpus)
    base = h.tmp("st_")
    cents = ivf_centroids(corpus).withColumn("cent_n", norm2(F.col("centroid"))).persist()
    cents.count()
    semantic_assign(corpus, cents).write.mode("overwrite").parquet(
        table_path(base, "st_index"))
    t0 = time.time()
    verdicts_path, _ = stream_semantic_dedup(
        h.spark, delta_dir, base, verdicts_name="st_verdicts", index_name="st_index",
        n_batches=1, centroids=cents,
    )
    wall = time.time() - t0
    delta_keys = delta.select("vec_id")
    got = h.spark.read.parquet(verdicts_path).join(delta_keys, "vec_id")
    want = incremental_semantic_dedup(
        None,
        delta,
        max_cluster_size=None,  # match the stream's uncapped default
        corpus_index=h.spark.read.parquet(table_path(base, "st_index")).join(
            delta_keys.select(F.col("vec_id").alias("key")), "key", "left_anti"),
        centroids=cents,
    ).select("vec_id", "cluster_id", "centroid_sim", "kept")
    facts = {"delta_kept": got.where("kept = 1").count(), "diff_vs_direct": _diff(got, want)}
    cents.unpersist()
    return wall, facts


def _seed_er(h, corpus, buckets=None, index_buckets=None, golden_buckets=16, block_col=None):
    """Standing ER state for ``corpus``: records, assignment, optional
    block index and the golden ptable (untimed — tables in production)."""
    kw = {"block_col": block_col} if block_col else {}
    base = h.tmp("st_")
    asg = resolve_entities(corpus, max_block=ER_MAX_BLOCK, **kw).localCheckpoint(eager=True)
    _state(h, base, "er_records", corpus, buckets)
    _state(h, base, "er_assignment", asg, buckets)
    if index_buckets is not None:
        # the migration cost, paid once, not per ingest
        build_er_block_index(h.spark, corpus, base, num_buckets=index_buckets)
    partitioned_upsert(h.spark, golden_records(corpus, asg, rules=ER_RULES),
                       base, "er_golden", "entity_id", num_buckets=golden_buckets)
    return base, asg


def _ergold(buckets=None, index_buckets=None, pointy=False):
    def run(h, corpus):
        fx = _er_stream(h)
        delta = fx["pt" if pointy else "delta"]
        corpus = corpus.localCheckpoint(eager=True)
        base, asg = _seed_er(h, corpus, buckets, index_buckets)
        t0 = time.time()
        stream_entity_resolution(
            h.spark, delta, base, n_batches=1, golden_rules=ER_RULES,
            state_num_buckets=buckets, block_index_buckets=index_buckets,
        )
        wall = time.time() - t0
        # the stored assignment's recomputed rows equal the direct
        # incremental operator on the same state
        want = incremental_resolve_entities(
            corpus, delta, corpus_assignment=asg, max_block=ER_MAX_BLOCK,
            emit="changed", check_overlap=False,
        ).localCheckpoint(eager=True)
        stored = (h.spark.read.parquet(table_path(base, "er_assignment")) if buckets is None
                  else read_partitioned(h.spark, base, "er_assignment"))
        got = stored.join(want.select("rec_id"), "rec_id")
        return wall, {"diff_vs_direct": _diff(got, want),
                      "golden_rows": read_partitioned(h.spark, base, "er_golden").count()}

    return run


def _run_ergold_auto(h, corpus):
    """The auto state layout (state_auto_threshold): seed flat state; the
    first ingest migrates to ptables iff the standing count crossed the
    threshold (reported as the one-time migration wall), the second
    ingest is the timed steady state on the chosen layout."""
    fx = _er_stream(h)
    corpus = corpus.localCheckpoint(eager=True)
    base, _ = _seed_er(h, corpus)
    walls = []
    for delta in (fx["pt"], fx["pt2"]):
        t0 = time.time()
        stream_entity_resolution(
            h.spark, delta, base, n_batches=1, golden_rules=ER_RULES,
            state_num_buckets=64, state_auto_threshold=100_000,
        )
        walls.append(time.time() - t0)
    # the drained-state contract over everything ingested
    want = resolve_entities(
        corpus.unionByName(fx["pt"]).unionByName(fx["pt2"]), max_block=ER_MAX_BLOCK
    ).localCheckpoint(eager=True)
    migrated = os.path.exists(os.path.join(base, "er_assignment.ptable", "_MANIFEST"))
    stored = (read_partitioned(h.spark, base, "er_assignment") if migrated
              else h.spark.read.parquet(table_path(base, "er_assignment")))
    return walls[1], {
        "diff_vs_direct": _diff(stored, want),
        "first_ingest_wall": round(walls[0], 2),
        "layout": "ptable" if migrated else "flat",
    }


def _run_er_compact_overlap(h, corpus):
    """The background index fold: the same 4-batch pointy ingest with a
    compaction every 3 batches (the fold after batch 3 overlaps batch 4)
    vs compaction disabled."""
    fx = _er_stream(h)
    corpus = corpus.localCheckpoint(eager=True)
    walls = {}
    for tag, cadence in (("trigger", 3), ("notrigger", 0)):
        base, _ = _seed_er(h, corpus, 64, 64)
        t0 = time.time()
        stream_entity_resolution(
            h.spark, fx["pt"], base, n_batches=4, golden_rules=ER_RULES,
            state_num_buckets=64, block_index_buckets=64, index_compact_every=cadence,
        )
        walls[tag] = time.time() - t0
        release_intermediates()
    return walls["trigger"], {
        "notrigger_wall": round(walls["notrigger"], 2),
        "trigger_over_notrigger": round(walls["trigger"] / max(walls["notrigger"], 1e-9), 2),
    }


def _run_ermulti(h, corpus):
    """Multi-pass streaming ER (block_col list) with a 64-bucket golden
    dimension."""
    delta = _er_stream(h, multi=True)["delta"]
    corpus = corpus.localCheckpoint(eager=True)
    base, asg = _seed_er(h, corpus, golden_buckets=64, block_col=ER_MULTI_BLOCKS)
    t0 = time.time()
    stream_entity_resolution(
        h.spark, delta, base, n_batches=1, golden_rules=ER_RULES,
        golden_num_buckets=64, block_col=ER_MULTI_BLOCKS,
    )
    wall = time.time() - t0
    want = incremental_resolve_entities(
        corpus, delta, corpus_assignment=asg, block_col=ER_MULTI_BLOCKS,
        max_block=ER_MAX_BLOCK, emit="changed", check_overlap=False,
    ).localCheckpoint(eager=True)
    got = h.spark.read.parquet(table_path(base, "er_assignment")).join(
        want.select("rec_id"), "rec_id")
    return wall, {"diff_vs_direct": _diff(got, want),
                  "golden_rows": read_partitioned(h.spark, base, "er_golden").count()}


def _gated(buckets):
    def run(h, corpus):
        delta = h.memo("gate_delta", lambda: _fixed_delta(h, "documents", "doc_id")[0]
                       .localCheckpoint(eager=True))
        corpus = corpus.select("doc_id", "text")
        base = h.tmp("st_")
        if buckets is None:
            corpus.write.mode("overwrite").parquet(table_path(base, "gated_kept"))
        else:
            partitioned_upsert(h.spark, corpus, base, "gated_kept", "doc_id",
                               num_buckets=buckets)
        t0 = time.time()
        kept_path, _ = stream_gated_ingest(
            h.spark, delta.select("doc_id", "text"), base,
            expectations=[("not_null", "text")], n_batches=1, num_buckets=buckets,
        )
        wall = time.time() - t0
        kept = (h.spark.read.parquet(kept_path) if buckets is None
                else read_partitioned(h.spark, base, "gated_kept"))
        return wall, {"accepted": kept.count() - corpus.count()}

    return run


STREAM_CASES = {
    "stream_incdedup": (_run_incdedup, "documents"),
    "stream_scored_ingest": (_run_scored, "documents"),
    "stream_incsem": (_run_incsem, "embeddings"),
    "stream_ergold": (_ergold(), "er"),
    "stream_ergold_ptable": (_ergold(64), "er"),
    "stream_ergold_indexed": (_ergold(64, 64), "er"),
    "stream_ergold_ptable_pt": (_ergold(64, pointy=True), "er"),
    "stream_ergold_indexed_pt": (_ergold(64, 64, pointy=True), "er"),
    "stream_er_compact_overlap": (_run_er_compact_overlap, "er"),
    "stream_ergold_auto": (_run_ergold_auto, "er"),
    "stream_ermulti": (_run_ermulti, "er_multi"),
    "stream_gated_flat": (_gated(None), "documents"),
    "stream_gated_ptable": (_gated(64), "documents"),
}


def smoke_streaming(h, cases):
    """What ONE fixed-size micro-batch costs against a standing corpus N×
    bigger — the stored-index claim under the real streaming harness
    (availableNow + checkpoint + foreachBatch MERGEs)."""
    sources = {STREAM_CASES[c][1] for c in cases}
    h.scale({t: OPS_TABLES[t] for t in sorted(sources & {"documents", "embeddings"})})
    results = {}
    for name in cases:
        fn, src = STREAM_CASES[name]
        small, large = (_er_stream(h, src == "er_multi")["recs"] if src.startswith("er")
                        else h.inputs(src))
        s1, sn = h.pair(name, lambda corpus: fn(h, corpus), small, large)
        results[name] = h.row(s1, sn, large=[k for k in sn if k not in ("t", "jobs")])
    emit({"factor": h.factor, "cases": results})


# ---------------------------------------------------------------------------
# command line
# ---------------------------------------------------------------------------

# family → (runner, case names in run order, default factor, extra int args)
FAMILIES = {
    "ops": (smoke_ops, tuple(OPS_CASES), 16, 0),
    "pairs": (smoke_pairs, tuple(PAIR_CASES), 64, 0),
    "ann": (smoke_ann, tuple(ANN_TAGS), 64, 0),
    "er": (smoke_er, ER_CASES, 64, 0),
    "graph": (smoke_graph, GRAPH_CASES, 64, 2),
    "bpe": (smoke_bpe, BPE_CASES, 96, 0),
    "curation": (smoke_curation, tuple(CURATION_CHAINS), 64, 0),
    "elt": (smoke_elt, ("elt_parity",), 64, 0),
    "streaming": (smoke_streaming, tuple(STREAM_CASES), 64, 0),
}


def _known(names, known) -> None:
    unknown = sorted(set(names) - set(known))
    if unknown:
        raise SystemExit(f"unknown case(s) {unknown}; known: {sorted(known)}")


def smoke(family: str, args: list[str]) -> None:
    run, cases, factor, n_extra = FAMILIES[family]
    ints = []
    while args and args[0].isdigit() and len(ints) <= n_extra:
        ints.append(int(args.pop(0)))
    _known(args, cases)
    selected = [c for c in cases if not args or c in args]
    factor = ints[0] if ints else factor
    # bpe's data default is the small corpus unless the base is set
    sf_dir = SF_DIR
    if family == "bpe" and "SPARK_GRAFT_SF_DIR" not in os.environ:
        sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    with Harness(f"measure_{family}", factor, sf_dir) as h:
        run(h, selected, *ints[1:])


def main(argv: list[str]) -> None:
    cmd, args = (argv[0], list(argv[1:])) if argv else ("", [])
    if cmd == "scale" and len(args) <= 1:
        return scale(int(args[0]) if args else 10)
    if cmd == "profile":
        return profile(args[0] if args else "before", args[1:])
    if cmd == "smoke" and args and args[0] in FAMILIES:
        return smoke(args[0], args[1:])
    raise SystemExit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
