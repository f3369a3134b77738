"""applyInPandasWithState, foreachBatch streaming upsert, salting."""
from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import functions as F

from mgo_liveagent_data_pipeline_spark.operators.skew import (
    salted_join,
    salted_sum,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stream_upsert_6h_equals_batch(spark, tmp_path):
    from mgo_liveagent_data_pipeline_spark.functions.datetimes import (
        tumbling_6h_bucket,
    )
    from mgo_liveagent_data_pipeline_spark.sources.tables import load_table
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_upsert_6h,
    )

    path = stream_upsert_6h(spark, SF_DIR, str(tmp_path))
    streamed = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in spark.read.parquet(path).collect()
    }
    events = load_table(spark, SF_DIR, "events")
    batch = {
        r["w"]: (r["n"], r["v"])
        for r in events.groupBy(tumbling_6h_bucket(F.col("ts")).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("v"),
        )
        .collect()
    }
    assert streamed == batch


def test_stream_merge_partitioned_equals_plain_upsert(spark, tmp_path):
    """The partition-pruned streaming MERGE produces the same table as
    the full-rewrite streaming upsert, and an incremental re-run that
    touches a subset of windows leaves unaffected bucket dirs untouched."""
    import os

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        partitioned_upsert,
        read_partitioned,
    )
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_merge_partitioned,
        stream_upsert_6h,
    )

    plain = stream_upsert_6h(spark, SF_DIR, str(tmp_path), sink_name="plain")
    pdir = stream_merge_partitioned(
        spark, SF_DIR, str(tmp_path), sink_name="part", num_buckets=8
    )
    key = lambda rows: sorted(
        (r["window_start"], r["n_events"], r["total_value"]) for r in rows
    )
    assert key(read_partitioned(spark, str(tmp_path), "part").collect()) == key(
        spark.read.parquet(plain).collect()
    )

    # incremental delta hitting ONE window row -> at most 1 bucket rewritten
    before = {
        d: os.stat(os.path.join(pdir, d)).st_mtime_ns
        for d in os.listdir(pdir)
        if d.startswith("b")
    }
    one = read_partitioned(spark, str(tmp_path), "part").limit(1).withColumn(
        "n_events", F.lit(999_999).cast("long")
    )
    partitioned_upsert(spark, one, str(tmp_path), "part", "window_start")
    after = {
        d
        for d in os.listdir(pdir)
        if d.startswith("b")
        and (d not in before or os.stat(os.path.join(pdir, d)).st_mtime_ns
             != before[d])
    }
    assert len(after) == 1  # exactly the delta's bucket version appeared
    upd = {
        r["window_start"]: r["n_events"]
        for r in read_partitioned(spark, str(tmp_path), "part").collect()
    }
    assert 999_999 in upd.values()


def test_running_user_totals_stateful(spark, tmp_path):
    import json
    import os

    from mgo_liveagent_data_pipeline_spark.streaming.stateful import (
        running_user_totals,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    rows = [
        {"user_id": 1, "value": 2.0},
        {"user_id": 1, "value": 3.0},
        {"user_id": 2, "value": 5.0},
    ]
    with open(src_dir / "batch1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema("user_id bigint, value double").json(
        str(src_dir)
    )
    out = running_user_totals(stream)
    name = f"stateful_{os.getpid()}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in spark.table(name).collect()}
    assert got == {1: (2, 5.0), 2: (1, 5.0)}


def test_salted_sum_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(500)] + [("cold", 1.0)],
        ["k", "v"],
    )
    out = {
        r["k"]: (r["total"], r["n"])
        for r in salted_sum(
            df,
            ["k"],
            {"total": F.sum("v"), "n": F.count(F.lit(1))},
            salt_buckets=4,
        ).collect()
    }
    assert out["hot"] == (sum(range(500)), 500)
    assert out["cold"] == (1.0, 1)


def test_salted_sum_spreads_key_clustered_input(spark):
    """The salt must be a row-content hash, not a partition id: an input
    already clustered by the hot key (one partition ≈ one key, as a prior
    repartition(key) produces) must still spread over >1 salt bucket."""
    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(500)] + [("cold", 1.0)],
        ["k", "v"],
    ).repartition(4, "k")  # cluster: every 'hot' row in one partition
    from mgo_liveagent_data_pipeline_spark.operators.skew import _row_salt

    stage1_salts = (
        df.withColumn("__salt", _row_salt(4))
        .where(F.col("k") == "hot")
        .select("__salt")
        .distinct()
        .count()
    )
    assert stage1_salts > 1  # the salt expression salted_sum uses spreads
    out = {
        r["k"]: (r["total"], r["n"])
        for r in salted_sum(
            df,
            ["k"],
            {"total": F.sum("v"), "n": F.count(F.lit(1))},
            salt_buckets=4,
        ).collect()
    }
    assert out["hot"] == (sum(range(500)), 500)
    assert out["cold"] == (1.0, 1)


def test_salted_join_matches_plain(spark):
    big = spark.createDataFrame(
        [(1, f"r{i}") for i in range(200)] + [(2, "x")], ["k", "payload"]
    )
    dim = spark.createDataFrame([(1, "one"), (2, "two")], ["k", "name"])
    salted = salted_join(big, dim, "k", salt_buckets=4).orderBy("payload")
    plain = big.join(dim, "k").orderBy("payload")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_null_keys(spark):
    """Inner/semi prefilter drops null keys BEFORE the salt (restoring the
    scan-level IsNotNull pushdown); left joins preserve null-key rows."""
    big = spark.createDataFrame(
        [(1, "a"), (None, "n1"), (None, "n2")], ["k", "payload"]
    )
    dim = spark.createDataFrame([(1, "one")], ["k", "name"])
    inner = salted_join(big, dim, "k", salt_buckets=4)
    assert sorted(map(tuple, inner.collect())) == [(1, "a", "one")]
    left = salted_join(big, dim, "k", salt_buckets=4, how="left")
    got = sorted(map(tuple, left.collect()), key=str)
    assert (1, "a", "one") in got and len(got) == 3  # null rows preserved


def test_stream_merge_restart_exactly_once(spark, tmp_path):
    """Kill a foreachBatch MERGE stream mid-run — AFTER a batch's merge
    applied but BEFORE its checkpoint offset committed (the worst-case
    crash window) — then resume from the checkpoint. The replayed batch
    re-merges idempotently, later batches process once, and the sink
    holds every source row exactly once: the exactly-once claim
    (checkpointed offsets + idempotent MERGE) demonstrated, not just
    asserted."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        partitioned_upsert,
        read_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    for f in range(3):  # one file per micro-batch (maxFilesPerTrigger=1)
        spark.createDataFrame(
            [(f * 10 + i, f"v{f}_{i}", float(f * 10 + i)) for i in range(10)],
            ["event_id", "payload", "value"],
        ).coalesce(1).write.parquet(str(src / f"batch_{f}.parquet"))
    base = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(str(src / "batch_0.parquet")).schema
    crash = {"armed": True}
    merged_batches = []

    def merge_batch(batch_df, batch_id):
        partitioned_upsert(
            spark, batch_df, base, "sink", "event_id", num_buckets=4
        )
        merged_batches.append(batch_id)
        if batch_id == 1 and crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("injected crash after merge, before commit")

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    q2 = start()  # resume from the same checkpoint
    q2.awaitTermination()

    rows = read_partitioned(spark, base, "sink").collect()
    # batch 1 merged twice (crash replay), so exactly-once must come from
    # the MERGE's idempotency — prove the replay actually happened
    assert merged_batches.count(1) == 2, merged_batches
    assert len(rows) == 30  # no lost rows
    assert len({r["event_id"] for r in rows}) == 30  # no duplicates


def test_stream_incremental_dedup_restart_exactly_once(spark, tmp_path):
    """Streaming incremental near-dup dedup under the worst-case crash
    window: batch 1's pair/corpus MERGEs applied but its offset not
    committed, then resume. The replayed batch re-derives the SAME pairs
    against a corpus that already contains its own docs (the operator's
    re-ingest supersede rule), both MERGEs are idempotent, and the
    drained pair table equals the full-corpus batch LSH result — the
    composition of two already-proven pieces demonstrated end to end."""
    import pytest
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_dedup,
        release_intermediates,
    )
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        ensure_table,
        table_path,
        upsert,
    )

    base_text = "the quick brown fox jumps over the lazy dog near the river"
    variant = base_text + " tonight"  # one appended word: J = 10/11
    docs = {
        0: [(i, f"unique doc {i} " + " ".join(f"w{i}{j}" for j in range(10)))
            for i in range(4)] + [(5, base_text)],
        1: [(10, variant), (11, "twin text alpha beta gamma delta epsilon"),
            (12, "twin text alpha beta gamma delta epsilon")],
        2: [(20, base_text), (21, "another unique tail " + "z " * 10)],
    }
    src = tmp_path / "docs_src"
    src.mkdir()
    for b, rows in docs.items():
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(
            str(src / f"batch_{b}.parquet")
        )
    base = str(tmp_path / "dedup_tbl")
    ckpt = str(tmp_path / "dedup_ckpt")
    corpus_path = ensure_table(
        spark, base, "corpus", spark.createDataFrame([], "doc_id long, text string")
    )
    ensure_table(
        spark, base, "pairs",
        spark.createDataFrame([], "pk string, id_a long, id_b long, jaccard_sim double"),
    )
    schema = spark.read.parquet(str(src / "batch_0.parquet")).schema
    crash = {"armed": True}
    merged_batches = []

    def merge_batch(batch_df, batch_id):
        delta = batch_df.select("doc_id", "text")
        corpus = spark.read.parquet(corpus_path)
        pairs = incremental_minhash_dedup(corpus, delta, "text", "doc_id")
        out = pairs.select(
            F.concat_ws("|", F.col("id_a").cast("string"),
                        F.col("id_b").cast("string")).alias("pk"),
            "id_a", "id_b", "jaccard_sim",
        )
        upsert(spark, out, base, "pairs", "pk")
        upsert(spark, delta, base, "corpus", "doc_id")
        merged_batches.append(batch_id)
        if batch_id == 1 and crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("injected crash after merges, before commit")

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    q2 = start()
    q2.awaitTermination()

    assert merged_batches.count(1) == 2, merged_batches  # replay happened
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in spark.read.parquet(table_path(base, "pairs")).collect()
    }
    full = spark.createDataFrame(
        [r for rows in docs.values() for r in rows], ["doc_id", "text"]
    )
    want = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in minhash_lsh_dedup(full, "text", "doc_id").collect()
    }
    release_intermediates()
    assert got == want
    # the planted cross-batch and within-batch dups were all caught
    assert (5, 10) in got and (11, 12) in got and (5, 20) in got
    # corpus table holds every doc exactly once despite the replay
    corpus_rows = spark.read.parquet(corpus_path).collect()
    assert len(corpus_rows) == sum(len(v) for v in docs.values())
    assert len({r["doc_id"] for r in corpus_rows}) == len(corpus_rows)


def test_stream_media_dedup_restart_exactly_once(spark, tmp_path):
    """Streaming perceptual media dedup under the worst-case crash
    window: a mid-stream batch's pair/index MERGEs land but its offset
    is not committed, then resume. The fingerprint is a pure per-payload
    map and both writes are idempotent keyed MERGEs, so the replay
    recomputes identical rows and the drained pair table equals the
    full-corpus banded pairs."""
    import pytest
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        hamming_banded_pairs,
        incremental_hamming_pairs,
        release_intermediates,
    )
    from mgo_liveagent_data_pipeline_spark.operators.multimodal import (
        phash_fixture_images,
        real_image_dhash,
    )
    from mgo_liveagent_data_pipeline_spark.session import ship_package
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        ensure_table,
        table_path,
        upsert,
    )

    ship_package(spark)
    imgs = phash_fixture_images()
    # 3 batches split so cross-batch dup evidence exists: base 0 arrives
    # in batch 0, its perturbed copies (10/11/12/14) in later batches
    split = {0: {0, 1, 2}, 1: {3, 4, 10, 11}, 2: {12, 13, 14, 15}}
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media", T.BinaryType()),
        ]
    )
    src = tmp_path / "media_src"
    src.mkdir()
    for b, ids in split.items():
        spark.createDataFrame(
            [
                (c["img_id"], bytearray(c["payload"]))
                for c in imgs
                if c["img_id"] in ids
            ],
            schema,
        ).coalesce(1).write.parquet(str(src / f"batch_{b}.parquet"))
    base = str(tmp_path / "media_tbl")
    ckpt = str(tmp_path / "media_ckpt")
    index_path = ensure_table(
        spark, base, "idx", spark.createDataFrame([], "key long, fp string")
    )
    ensure_table(
        spark, base, "pairs",
        spark.createDataFrame(
            [], "pk string, id_a long, id_b long, hamming_dist int"
        ),
    )
    crash = {"armed": True}
    merged = []

    def merge_batch(batch_df, batch_id):
        delta_fps = real_image_dhash(batch_df).select(
            "key", F.col("dhash").alias("fp")
        )
        index = spark.read.parquet(index_path)
        pairs = incremental_hamming_pairs(index, delta_fps)
        out = pairs.select(
            F.concat_ws(
                "|", F.col("id_a").cast("string"), F.col("id_b").cast("string")
            ).alias("pk"),
            "id_a", "id_b",
            F.col("hamming_dist").cast("int").alias("hamming_dist"),
        )
        upsert(spark, out, base, "pairs", "pk")
        upsert(spark, delta_fps, base, "idx", "key")
        merged.append(batch_id)
        if batch_id == 1 and crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("injected crash after merges, before commit")

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    q2 = start()
    q2.awaitTermination()
    assert merged.count(1) == 2, merged  # the crash batch replayed
    got = {
        (r["id_a"], r["id_b"]): r["hamming_dist"]
        for r in spark.read.parquet(table_path(base, "pairs")).collect()
    }
    all_df = spark.createDataFrame(
        [(c["img_id"], bytearray(c["payload"])) for c in imgs], schema
    )
    want = {
        (r["id_a"], r["id_b"]): r["hamming_dist"]
        for r in hamming_banded_pairs(
            real_image_dhash(all_df).select("key", F.col("dhash").alias("fp"))
        ).collect()
    }
    release_intermediates()
    assert got == want
    # cross-batch evidence found: base 0 (batch 0) vs its copies
    assert (0, 10) in got and (0, 12) in got and (0, 14) in got
    # index holds each fingerprint exactly once despite the replay
    idx = spark.read.parquet(index_path).collect()
    assert len(idx) == len(imgs) == len({r["key"] for r in idx})


def test_stream_scored_ingest_equals_batch_composition(spark, monkeypatch):
    """Scored continuous ingestion (gate → ppl → incremental dedup per
    micro-batch) drains to exactly the batch composition: quality+ppl
    gates over the whole table, then full-corpus LSH pairs. Gates are
    pure per-doc maps, so the result is independent of the batch split —
    and the crash-replay argument of
    test_stream_incremental_dedup_restart_exactly_once carries over
    unchanged (the gate adds no batch- or order-dependence). The
    reference LM is built once for the whole 3-batch stream, not once
    per micro-batch."""
    from pyspark.sql import functions as F

    from mgo_liveagent_data_pipeline_spark.operators import textops

    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        minhash_lsh_dedup,
        release_intermediates,
    )
    from mgo_liveagent_data_pipeline_spark.operators.textops import (
        lm_perplexity_score,
        quality_filter,
    )
    from mgo_liveagent_data_pipeline_spark.plans.pipeline import (
        LM_BUCKETS,
        LM_HEAD_NLL,
        LM_TAIL_NLL,
    )
    from mgo_liveagent_data_pipeline_spark.scratch import scratch_dir
    from mgo_liveagent_data_pipeline_spark.sources.tables import load_table
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_scored_ingest,
    )

    builds = []

    def counting_build(*args, **kwargs):
        builds.append(args)
        return build(*args, **kwargs)

    build = textops.lm_reference_model
    monkeypatch.setattr(textops, "lm_reference_model", counting_build)
    sf = "/root/testdata/sf0.001"
    base = scratch_dir("mgo_test_scored_ingest_")
    pairs_path, corpus_path = stream_scored_ingest(
        spark, sf, base,
        lm_buckets=LM_BUCKETS, head_nll=LM_HEAD_NLL, tail_nll=LM_TAIL_NLL,
        n_state_partitions=1,
    )
    assert len(builds) == 1, "one reference-model build per stream"
    monkeypatch.undo()
    streamed = {
        (r["id_a"], r["id_b"], r["jaccard_sim"])
        for r in spark.read.parquet(pairs_path).collect()
    }
    ingested = {
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    }

    docs = load_table(spark, sf, "documents")
    qf = quality_filter(docs)
    kept = docs.join(qf.where("keep").select("doc_id"), "doc_id", "left_semi")
    ppl = lm_perplexity_score(
        kept, docs.where(F.col("lang") == "en"), LM_BUCKETS,
        head_nll=LM_HEAD_NLL, tail_nll=LM_TAIL_NLL,
    )
    gated = kept.join(
        ppl.where(F.col("ppl_bucket") != "tail").select("doc_id"),
        "doc_id", "left_semi",
    )
    expect_docs = {r["doc_id"] for r in gated.select("doc_id").collect()}
    batch = {
        (r["id_a"], r["id_b"], r["jaccard_sim"])
        for r in minhash_lsh_dedup(gated, "text", "doc_id").collect()
    }
    release_intermediates()
    assert ingested == expect_docs, "corpus must hold exactly the gated docs"
    assert streamed == batch, "drained pairs must equal the batch composition"


def test_stream_semantic_dedup_matches_batch_and_flips(spark, tmp_path):
    """Streaming SemDeDup drained state equals the FULL-corpus batch
    semantic_dedup on the real embeddings table (3 micro-batches), and
    the mod-3 split genuinely exercises the corpus-FLIP path: some
    dropped vectors have ALL their drop evidence in later batches, so
    only the reverse pair probe can have produced their kept=0 row
    (brute-force recount here; 36 such cases at sf0.001)."""
    import math

    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        semantic_dedup,
    )
    from mgo_liveagent_data_pipeline_spark.sources.tables import load_table
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_semantic_dedup,
    )

    sf = "/root/testdata/sf0.001"
    verdicts_path, _idx = stream_semantic_dedup(
        spark, sf, str(tmp_path / "semstream"), n_batches=3,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    drained = {
        r["vec_id"]: (r["cluster_id"], r["centroid_sim"], r["kept"])
        for r in spark.read.parquet(verdicts_path).collect()
    }
    emb = load_table(spark, sf, "embeddings")
    batch = {
        r["vec_id"]: (r["cluster_id"], r["centroid_sim"], r["kept"])
        for r in semantic_dedup(emb, threshold=0.3).collect()
    }
    assert drained == batch

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6) if na > 0 and nb > 0 else 0.0

    by_cluster: dict[int, list] = {}
    for k, (c, s, kept) in batch.items():
        by_cluster.setdefault(c, []).append((s, k, kept))
    n_flip_only = 0
    for mem in by_cluster.values():
        mem.sort()
        for i, (s, k, kept) in enumerate(mem):
            if kept:
                continue
            evidence = [
                q for (_, q, _k2) in mem[:i]
                if cos(vecs[q], vecs[k]) >= 0.3
            ]
            if evidence and all(q % 3 > k % 3 for q in evidence):
                n_flip_only += 1
    assert n_flip_only > 0, "split must exercise the flip path"


def test_stream_semantic_dedup_restart_exactly_once(spark, tmp_path):
    """Streaming SemDeDup under the worst-case crash window: the FLIP
    batch's verdict/index MERGEs land but its offset is not committed,
    then resume. The replayed batch re-assigns delta keys already in the
    index (supersede rule), recomputes the identical flip, and both
    idempotent MERGEs land on already-correct rows — drained verdicts
    still equal the batch operator over the full fixture."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from mgo_liveagent_data_pipeline_spark.operators.annsearch import (
        ivf_centroids,
    )
    from mgo_liveagent_data_pipeline_spark.functions.similarity import norm2
    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        incremental_semantic_dedup,
        semantic_assign,
        semantic_dedup,
    )
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        ensure_table,
        table_path,
        upsert,
    )

    schema = "vec_id long, embedding array<double>, label int"
    batches = {
        0: [(1, [1.0, 0.0, 0.2], 0), (5, [0.0, 1.0, 0.2], 1)],
        # batch 1: key 3 is MORE peripheral than the seed key 1 -> key 1
        # must FLIP to dropped when batch 1 lands
        1: [(3, [1.0, 0.02, 0.2], 0)],
        # batch 2: key 2 drops at its own ingest (key 3 precedes it)
        2: [(2, [1.0, 0.01, 0.2], 0)],
    }
    src = tmp_path / "emb_src"
    src.mkdir()
    for b, rows in batches.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"batch_{b}.parquet")
        )
    all_rows = spark.createDataFrame(
        [r for rows in batches.values() for r in rows], schema
    )
    cents = ivf_centroids(all_rows).withColumn(
        "cent_n", norm2(F.col("centroid"))
    )
    cents.persist().count()
    base = str(tmp_path / "sem_tbl")
    ckpt = str(tmp_path / "sem_ckpt")
    index_path = ensure_table(
        spark, base, "idx",
        spark.createDataFrame(
            [],
            "key long, cluster_id int, centroid_sim double, "
            "v array<double>, nv double",
        ),
    )
    ensure_table(
        spark, base, "verd",
        spark.createDataFrame(
            [], "vec_id long, cluster_id int, centroid_sim double, kept int"
        ),
    )
    rd_schema = spark.read.parquet(str(src / "batch_0.parquet")).schema
    crash = {"armed": True}

    def merge_batch(batch_df, batch_id):
        delta = batch_df.select("vec_id", "embedding", "label")
        index = spark.read.parquet(index_path)
        out = incremental_semantic_dedup(
            None, delta, threshold=0.98,
            corpus_index=index, centroids=cents, emit_corpus_flips=True,
        ).select("vec_id", "cluster_id", "centroid_sim", "kept")
        upsert(spark, out, base, "verd", "vec_id")
        upsert(spark, semantic_assign(delta, cents), base, "idx", "key")
        if crash["armed"] and batch_id == 1:
            crash["armed"] = False
            raise RuntimeError("injected crash AFTER the flip batch's merges")

    def run():
        q = (
            spark.readStream.schema(rd_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
            .writeStream.outputMode("update")
            .foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        run()
    run()  # resume: batch 1 replays (merges already applied), then batch 2
    cents.unpersist()

    drained = {
        r["vec_id"]: r["kept"]
        for r in spark.read.parquet(table_path(base, "verd")).collect()
    }
    expect = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(all_rows, threshold=0.98).collect()
    }
    assert drained == expect
    assert expect == {1: 0, 2: 0, 3: 1, 5: 1}  # key 1 dropped via FLIP


def test_stream_hypertable_rollup_restart_exactly_once(spark, tmp_path):
    """The continuous aggregate under the worst-case crash window — THE
    trap case for streaming aggregates: an additive MERGE ('total +=
    batch sum') would double-count the replayed batch. The operator's
    (batch_id, bucket)-keyed partials make the replay overwrite
    identical rows instead, so the read-time fold equals the batch
    rollup exactly."""
    import datetime

    import pytest
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from mgo_liveagent_data_pipeline_spark.operators.aggregations import (
        hypertable_rollup,
        hypertable_rollup_from_hourly,
    )
    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        release_intermediates,
    )
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        ensure_table,
        table_path,
        upsert,
    )

    # hours that collide across batches (same bucket fed by batches 0-2)
    # plus distinct days/months so every level is non-trivial
    rows = [
        (i, datetime.datetime(2024, 1 + (i % 3), 1 + (i % 5), i % 24),
         float(i) + 0.25)
        for i in range(60)
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "value"])
    src = tmp_path / "cagg_src"
    src.mkdir()
    for b in range(3):
        ev.where(F.col("event_id") % 3 == b).coalesce(1).write.parquet(
            str(src / f"batch_{b}.parquet")
        )
    base = str(tmp_path / "cagg_tbl")
    ckpt = str(tmp_path / "cagg_ckpt")
    ensure_table(
        spark, base, "partials",
        spark.createDataFrame(
            [],
            "pk string, bucket_ts timestamp, n_events long, "
            "total decimal(22,2)",
        ),
    )
    crash = {"armed": True}
    merged = []

    def merge_batch(batch_df, batch_id):
        part = (
            batch_df.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("decimal(22,2)")
                .alias("total"),
            )
            .select(
                F.concat_ws(
                    "|",
                    F.lit(batch_id).cast("string"),
                    F.col("bucket_ts").cast("long").cast("string"),
                ).alias("pk"),
                "bucket_ts", "n_events", "total",
            )
        )
        upsert(spark, part, base, "partials", "pk")
        merged.append(batch_id)
        if batch_id == 1 and crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("injected crash after merge, before commit")

    schema = ev.schema

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    q2 = start()
    q2.awaitTermination()
    assert merged.count(1) == 2, merged  # the crash batch really replayed

    partials = spark.read.parquet(table_path(base, "partials"))
    # replay overwrote, not appended: pk unique
    assert partials.count() == partials.select("pk").distinct().count()
    hourly = partials.groupBy("bucket_ts").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("total").alias("__total"),
    )
    got = {
        (r["level"], r["bucket_ts"]): (r["n_events"], r["total_value"])
        for r in hypertable_rollup_from_hourly(hourly).collect()
    }
    want = {
        (r["level"], r["bucket_ts"]): (r["n_events"], r["total_value"])
        for r in hypertable_rollup(ev, "ts", "value").collect()
    }
    release_intermediates()
    assert got == want
    # the double-count symptom specifically: total event mass is exact
    assert sum(v[0] for k, v in got.items() if k[0] == "hour") == 60


def test_stream_ann_ingest_drained_equals_batch_and_replay(spark, tmp_path):
    """Streaming IVF maintenance: (1) querying THROUGH the stored index
    (corpus_preassigned) equals the batch ivf_topk with the same frozen
    centroids; (2) a FULL replay of the stream (fresh checkpoint, same
    tables) leaves the index byte-identical — assignment is a pure map
    of the frozen artifact, so every MERGE is idempotent."""
    from pyspark.sql import functions as F

    from mgo_liveagent_data_pipeline_spark.operators.annsearch import (
        ivf_topk,
    )
    from mgo_liveagent_data_pipeline_spark.sources.tables import load_table
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_ann_ingest,
    )

    sf = "/root/testdata/sf0.001"
    base = str(tmp_path / "annivf")
    index_path, cents = stream_ann_ingest(spark, sf, base)
    index = spark.read.parquet(index_path).withColumnRenamed(
        "cv", "embedding"
    )
    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def key(df):
        return sorted(
            (r["query_id"], r["corpus_id"], r["cosine_sim"], r["rank"])
            for r in df.collect()
        )

    got = key(
        ivf_topk(
            index, queries, k=5, query_key="query_id", n_probes=2,
            centroids=cents, corpus_preassigned=True,
        )
    )
    want = key(
        ivf_topk(
            emb, queries, k=5, query_key="query_id", n_probes=2,
            centroids=cents,
        )
    )
    assert got == want and len(got) > 0

    before = sorted(
        (r["vec_id"], r["cluster_id"], tuple(r["cv"]))
        for r in spark.read.parquet(index_path).collect()
    )
    # full replay: same standing tables, fresh checkpoint
    import shutil

    shutil.rmtree(str(tmp_path / "annivf" / "_ckpt"), ignore_errors=True)
    index_path2, _ = stream_ann_ingest(spark, sf, base, centroids=cents)
    after = sorted(
        (r["vec_id"], r["cluster_id"], tuple(r["cv"]))
        for r in spark.read.parquet(index_path2).collect()
    )
    assert index_path2 == index_path and after == before


def test_stream_entity_resolution_restart_exactly_once(spark, tmp_path):
    """Streaming ER under the worst-case crash window — BETWEEN the two
    MERGEs (assignment landed, records not, offset uncommitted), the
    exact half-done state the merge-order argument in
    stream_entity_resolution's docstring is about. The replayed batch
    still sees itself as fresh (records table unchanged), recomputes
    against a stored assignment that already carries its star edges (a
    subset of the true final component — harmless), and the drained
    table equals the full-batch resolve_entities, bridge merges
    included."""
    import pytest
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from mgo_liveagent_data_pipeline_spark.operators.entity import (
        incremental_resolve_entities,
        resolve_entities,
    )
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        ensure_table,
        table_path,
        upsert,
    )

    recs = [
        (10, 1, "Acme Metals Corp", "25-989-741", "12 Dock Rd"),
        (11, 1, "acme metals corp inc", "25989741", "12 Dock Road Pier 4"),
        (12, 1, "ACME METALS CORP", None, "12 D"),
        (20, 1, "Blue Harbour Ltd", "77-111-222", "9 Quay St"),
        (21, 1, "BH Logistics", "77111222", "9 Quay Street"),
        (30, 1, "Cedar Freight", "55-000-111", "1 Yard Ln"),
        (40, 2, "Acme Metals Corp", "25-989-741", "99 Other St"),
        # the bridge: A's name + B's phone, arrives LAST — merges the
        # two standing entities
        (15, 1, "Acme Metals Corp", "77-111-222", "somewhere"),
    ]
    cols = ["rec_id", "block_key", "name", "phone", "address"]
    split = {0: {10, 20, 40}, 1: {11, 21, 30}, 2: {12, 15}}
    src = tmp_path / "er_src"
    src.mkdir()
    for b, ids in split.items():
        spark.createDataFrame(
            [r for r in recs if r[0] in ids], cols
        ).coalesce(1).write.parquet(str(src / f"batch_{b}.parquet"))
    schema = spark.read.parquet(str(src / "batch_0.parquet")).schema
    base = str(tmp_path / "er_tbl")
    ckpt = str(tmp_path / "er_ckpt")
    rec_path = ensure_table(
        spark, base, "recs", spark.createDataFrame([], schema)
    )
    asg_path = ensure_table(
        spark, base, "asg",
        spark.createDataFrame([], "rec_id long, entity_id long, n_records long"),
    )
    crash = {"armed": True}
    merged = []

    from mgo_liveagent_data_pipeline_spark.operators.entity import (
        golden_records,
    )
    from mgo_liveagent_data_pipeline_spark.sinks.writers import delete_keys

    RULES = {"name": "first_by_key", "phone": "min", "address": "longest"}
    ensure_table(
        spark, base, "gold",
        spark.createDataFrame(
            [],
            "entity_id long, n_records long, name string, phone string, "
            "address string",
        ),
    )

    def merge_batch(batch_df, batch_id):
        corpus = spark.read.parquet(rec_path)
        asg = spark.read.parquet(asg_path)
        fresh = batch_df.join(corpus.select("rec_id"), "rec_id", "left_anti")
        changed = incremental_resolve_entities(
            corpus, fresh, corpus_assignment=asg, emit="changed"
        ).localCheckpoint(eager=True)
        upsert(spark, changed, base, "asg", "rec_id")
        if batch_id == 1 and crash["armed"]:
            crash["armed"] = False
            raise RuntimeError(
                "injected crash between assignment and record MERGEs"
            )
        members = corpus.unionByName(fresh).join(
            changed.select("rec_id"), "rec_id"
        )
        upsert(
            spark, golden_records(members, changed, rules=RULES),
            base, "gold", "entity_id",
        )
        live = spark.read.parquet(asg_path).select("entity_id").distinct()
        stale = (
            spark.read.parquet(table_path(base, "gold"))
            .select("entity_id").join(live, "entity_id", "left_anti")
        )
        delete_keys(spark, stale, base, "gold", "entity_id")
        upsert(spark, fresh, base, "recs", "rec_id")
        merged.append(batch_id)

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    q2 = start()
    q2.awaitTermination()
    got = {
        r["rec_id"]: (r["entity_id"], r["n_records"])
        for r in spark.read.parquet(table_path(base, "asg")).collect()
    }
    want = {
        r["rec_id"]: (r["entity_id"], r["n_records"])
        for r in resolve_entities(
            spark.createDataFrame(recs, cols)
        ).collect()
    }
    assert got == want
    # the late bridge really merged the two standing entities
    assert got[21] == (10, 6) and got[15] == (10, 6)
    # records table holds each record exactly once despite the replay
    stored = spark.read.parquet(rec_path).collect()
    assert len(stored) == len(recs) == len({r["rec_id"] for r in stored})
    # drained golden dimension == full-batch golden records: the
    # swallowed entity 20's golden row was MERGE-DELETEd by the sweep
    gold = {
        r["entity_id"]: (r["n_records"], r["name"], r["phone"], r["address"])
        for r in spark.read.parquet(table_path(base, "gold")).collect()
    }
    from mgo_liveagent_data_pipeline_spark.operators.entity import (
        resolve_entities as _re,
    )

    full_recs = spark.createDataFrame(recs, cols)
    want_gold = {
        r["entity_id"]: (r["n_records"], r["name"], r["phone"], r["address"])
        for r in golden_records(
            full_recs, _re(full_recs), rules=RULES
        ).collect()
    }
    assert gold == want_gold
    assert 20 not in gold and gold[10][0] == 6


def test_stream_gated_ingest_generic_key(spark, tmp_path):
    """The round-10 ADVICE fix: stream_gated_ingest gates any keyed
    corpus — key_col drives both the batch split and the upserts (a
    non-doc_id corpus used to throw AnalysisException)."""
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_gated_ingest,
    )

    events = spark.createDataFrame(
        [(0, "view", 1.0), (1, "click", 2.0), (2, None, 3.0), (3, "view", 4.0)],
        ["event_id", "etype", "val"],
    )
    kept_path, quar_path = stream_gated_ingest(
        spark,
        events,
        str(tmp_path),
        expectations=[("not_null", "etype")],
        n_batches=2,
        n_state_partitions=1,
        key_col="event_id",
    )
    kept = {r["event_id"] for r in spark.read.parquet(kept_path).collect()}
    quar = {r["event_id"] for r in spark.read.parquet(quar_path).collect()}
    # batch 0 = even ids (holds the NULL etype row 2) → quarantined;
    # batch 1 = odd ids → kept
    assert kept == {1, 3} and quar == {0, 2}


def test_stream_semantic_dedup_cluster_cap_quarantines(spark, tmp_path):
    """The round-10 streaming-safe cap: a hot cluster crossing
    stream_cluster_cap mid-stream REFUSES new members into a quarantine
    table (loud, byte-preserved) instead of either unbounded Σ|cluster|²
    growth or the verdict-divergence a batch-style cap causes — and the
    drained verdicts equal the uncapped run over exactly the ACCEPTED
    subset (no stored verdict ever flips because of a refusal)."""
    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        incremental_semantic_dedup,
    )
    from mgo_liveagent_data_pipeline_spark.sinks.writers import table_path
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_semantic_dedup,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cluster_id int, centroid array<double>",
    )
    rows = [
        # hot cluster (→ centroid 0): batch 0 fills it to the cap,
        # batches 1 and 2 must be refused
        (3, [1.0, 0.0], "h3"), (6, [0.999, 0.001], "h6"),   # batch 0
        (1, [0.998, 0.002], "h1"), (4, [0.997, 0.003], "h4"),  # batch 1
        (2, [0.996, 0.004], "h2"),                           # batch 2
        # cold cluster (→ centroid 1): stays under the cap (standing
        # size 1 when batch 2's member arrives)
        (9, [0.0, 1.0], "c9"),                               # batch 0
        (5, [0.6, 0.8], "c5"),                               # batch 2
    ]
    src = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    base = str(tmp_path / "capstream")
    verdicts_path, _idx = stream_semantic_dedup(
        spark, "/root/testdata/sf0.001", base,
        threshold=0.9, n_batches=3, n_state_partitions=1,
        centroids=cents, stream_cluster_cap=2, src_df=src,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    refused = {
        r["vec_id"]
        for r in spark.read.parquet(table_path(base, "sem_refused")).collect()
    }
    assert refused == {1, 4, 2}  # the post-cap hot arrivals, nothing else
    drained = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in spark.read.parquet(verdicts_path).collect()
    }
    # verdicts cover exactly the accepted subset
    assert set(drained) == {3, 6, 9, 5}
    # and equal the uncapped batch run (frozen centroids) over it
    accepted = src.where(~F.col("vec_id").isin(*refused))
    empty_index = spark.createDataFrame(
        [],
        "key long, cluster_id int, centroid_sim double, "
        "v array<double>, nv double",
    )
    want = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in incremental_semantic_dedup(
            None, accepted, threshold=0.9,
            corpus_index=empty_index, centroids=cents,
            emit_corpus_flips=True,
        ).collect()
    }
    assert drained == want
    # the hot dup inside batch 0 was still deduped (the low-centroid-sim
    # member survives, the repo's SemDeDup keep rule), cold kept
    assert drained[6] == (0, 1) and drained[3] == (0, 0)
    assert drained[9][1] == 1 and drained[5][1] == 1


def test_stream_gated_ingest_ptable_destinations(spark, tmp_path):
    """num_buckets routes both gated destinations through the bucketed
    ptable: same kept/quarantine CONTENT as the flat path, but per-batch
    MERGEs rewrite only affected buckets (the flat path rewrites the
    whole table per batch — the 64× smoke row)."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        read_partitioned,
    )
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_gated_ingest,
    )

    docs = spark.createDataFrame(
        [(i, None if i == 2 else f"text {i}") for i in range(6)],
        ["doc_id", "text"],
    )
    kept_path, quar_path = stream_gated_ingest(
        spark, docs, str(tmp_path), expectations=[("not_null", "text")],
        n_batches=2, n_state_partitions=1, num_buckets=4,
    )
    kept = {
        r["doc_id"]
        for r in read_partitioned(spark, str(tmp_path), "gated_kept").collect()
    }
    quar = {
        r["doc_id"]
        for r in read_partitioned(
            spark, str(tmp_path), "gated_quarantine"
        ).collect()
    }
    # batch 0 (even ids) carries the NULL → quarantined; batch 1 kept
    assert kept == {1, 3, 5} and quar == {0, 2, 4}
    import os

    assert os.path.isfile(os.path.join(kept_path, "_MANIFEST"))


def test_stream_gated_ptable_unwritten_destination_reads_empty(spark, tmp_path):
    """A gated ptable destination that never receives a batch (every
    batch passes) must still read back as an empty table — the empty
    committed manifest ensure_partitioned seeds, matching the flat
    path's ensure_table guarantee."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        read_partitioned,
    )
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_gated_ingest,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], ["doc_id", "text"]
    )
    stream_gated_ingest(
        spark, docs, str(tmp_path), expectations=[("not_null", "text")],
        n_batches=2, n_state_partitions=1, num_buckets=4,
    )
    quar = read_partitioned(spark, str(tmp_path), "gated_quarantine")
    assert quar.count() == 0
    assert quar.columns == ["doc_id", "text"]
    kept = read_partitioned(spark, str(tmp_path), "gated_kept")
    assert {r["doc_id"] for r in kept.collect()} == set(range(6))


def test_stream_er_golden_delta_sweep_empty_first_batch(spark, tmp_path):
    """The golden ptable is seeded up front: a stream whose FIRST batch
    is empty (rec_id % n_batches hits nothing for b=0) still maintains
    the dimension — round-10's unseeded ptable crashed in the sweep's
    read_partitioned on exactly this shape — and the drained golden
    rows equal the full-batch golden records via the DELTA-DERIVED
    sweep alone (full_sweep_every never fires in 3 batches)."""
    from mgo_liveagent_data_pipeline_spark.operators.entity import (
        golden_records,
        resolve_entities,
    )
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        read_partitioned,
    )
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_entity_resolution,
    )

    # no rec_id % 3 == 0: batch 0 is EMPTY; the bridge (rec 7, A-name +
    # B-phone) arrives last and swallows entity 20 — the delta sweep
    # must delete its golden row
    recs = [
        (10, 1, "Acme Metals Corp", "25-989-741", "12 Dock Rd"),
        (11, 1, "acme metals corp inc", "25989741", "12 Dock Road Pier 4"),
        (20, 1, "Blue Harbour Ltd", "77-111-222", "9 Quay St"),
        (22, 1, "BH Logistics", "77111222", "9 Quay Street"),
        (7, 1, "Acme Metals Corp", "77-111-222", "somewhere"),
    ]
    cols = ["rec_id", "block_key", "name", "phone", "address"]
    df = spark.createDataFrame(recs, cols)
    RULES = {"name": "first_by_key", "phone": "min", "address": "longest"}
    base = str(tmp_path / "er")
    _asg, golden_path = stream_entity_resolution(
        spark, df, base, n_batches=3, n_state_partitions=1,
        golden_rules=RULES, golden_num_buckets=4,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        r["entity_id"]: (r["n_records"], r["name"], r["phone"])
        for r in read_partitioned(spark, base, "er_golden").collect()
    }
    want = {
        r["entity_id"]: (r["n_records"], r["name"], r["phone"])
        for r in golden_records(df, resolve_entities(df), rules=RULES).collect()
    }
    assert got == want
    assert 20 not in got and got[7][0] == 5  # all five records merged


def test_er_golden_leak_window_and_periodic_backstop(spark, tmp_path):
    """The exact leak window DESIGN.md documents for the delta-derived
    sweep: a crash between the assignment MERGE and the sweep replays
    the batch against an assignment that ALREADY carries the new
    labels, so old_labels ∖ new_labels is empty and the swallowed
    entity's golden row leaks past the delta sweep — and the periodic
    STATE-BASED sweep (the full_sweep_every backstop) removes it."""
    from pyspark.sql import functions as F

    from mgo_liveagent_data_pipeline_spark.operators.entity import (
        golden_records,
        incremental_resolve_entities,
        resolve_entities,
    )
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        ensure_partitioned,
        ensure_table,
        partitioned_delete_keys,
        partitioned_upsert,
        read_partitioned,
        upsert,
    )

    cols = ["rec_id", "block_key", "name", "phone", "address"]
    corpus_rows = [
        (10, 1, "Acme Metals Corp", "25-989-741", "12 Dock Rd"),
        (20, 1, "Blue Harbour Ltd", "77-111-222", "9 Quay St"),
    ]
    bridge = [(15, 1, "Acme Metals Corp", "77-111-222", "somewhere")]
    corpus = spark.createDataFrame(corpus_rows, cols)
    delta = spark.createDataFrame(bridge, cols)
    RULES = {"name": "first_by_key", "phone": "min", "address": "longest"}
    base = str(tmp_path / "leak")

    # standing state: corpus resolved, golden dimension materialized
    asg0 = resolve_entities(corpus)
    ensure_table(spark, base, "asg", asg0.limit(0))
    upsert(spark, asg0, base, "asg", "rec_id")
    g0 = golden_records(corpus, asg0, rules=RULES)
    ensure_partitioned(spark, base, "gold", g0.limit(0), num_buckets=4)
    partitioned_upsert(spark, g0, base, "gold", "entity_id", num_buckets=4)
    assert 20 in {
        r["entity_id"]
        for r in read_partitioned(spark, base, "gold").collect()
    }

    # the batch's first attempt: assignment MERGE lands, then CRASH
    # (golden upsert + sweep never ran)
    asg_before = spark.read.parquet(base + "/asg.parquet")
    changed = incremental_resolve_entities(
        corpus, delta, corpus_assignment=asg_before, emit="changed",
        check_overlap=False,
    ).localCheckpoint(eager=True)
    upsert(spark, changed, base, "asg", "rec_id")

    # the REPLAY: old_labels now read from the already-merged
    # assignment — the new labels — so the delta-derived stale set is
    # empty and entity 20's golden row survives the delta sweep
    asg_replay = spark.read.parquet(base + "/asg.parquet")
    changed2 = incremental_resolve_entities(
        corpus, delta, corpus_assignment=asg_replay, emit="changed",
        check_overlap=False,
    ).localCheckpoint(eager=True)
    old_labels = (
        asg_replay.join(F.broadcast(changed2.select("rec_id")), "rec_id")
        .select("entity_id").distinct().localCheckpoint(eager=True)
    )
    upsert(spark, changed2, base, "asg", "rec_id")
    members = corpus.unionByName(delta).join(
        F.broadcast(changed2.select("rec_id")), "rec_id"
    )
    partitioned_upsert(
        spark, golden_records(members, changed2, rules=RULES),
        base, "gold", "entity_id", num_buckets=4,
    )
    stale = old_labels.join(
        changed2.select("entity_id").distinct(), "entity_id", "left_anti"
    )
    partitioned_delete_keys(spark, stale, base, "gold", "entity_id")
    leaked = {
        r["entity_id"]
        for r in read_partitioned(spark, base, "gold").collect()
    }
    assert 20 in leaked  # the documented leak — delta sweep misses it

    # the periodic state-based backstop: golden keys ∖ live labels
    live = spark.read.parquet(base + "/asg.parquet").select(
        "entity_id"
    ).distinct()
    stale_full = (
        read_partitioned(spark, base, "gold")
        .select("entity_id").join(live, "entity_id", "left_anti")
    )
    partitioned_delete_keys(spark, stale_full, base, "gold", "entity_id")
    healed = {
        r["entity_id"]
        for r in read_partitioned(spark, base, "gold").collect()
    }
    assert healed == {10}  # leaked row removed, merged entity remains


def test_stream_semantic_dedup_hot_cluster_metric(spark, tmp_path):
    """The uncapped default is observable: STREAM_SEM_LAST records one
    (batch_id, cluster_id, size) row per micro-batch — the hottest
    standing cluster after that batch's merge — so unbounded growth is
    visible without opting into stream_cluster_cap."""
    from mgo_liveagent_data_pipeline_spark.streaming import windows as W

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cluster_id int, centroid array<double>",
    )
    rows = [
        (3, [1.0, 0.0], "h3"), (6, [0.999, 0.001], "h6"),
        (1, [0.998, 0.002], "h1"), (4, [0.997, 0.003], "h4"),
        (2, [0.996, 0.004], "h2"), (9, [0.0, 1.0], "c9"),
    ]
    src = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    W.stream_semantic_dedup(
        spark, "/root/testdata/sf0.001", str(tmp_path / "s"),
        threshold=0.9, n_batches=3, n_state_partitions=1,
        centroids=cents, src_df=src,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    hot = W.STREAM_SEM_LAST["hot_clusters"]
    assert len(hot) == 3
    # the hot cluster (0) accumulates: sizes nondecreasing, final = 5
    assert [h[1] for h in hot] == [0, 0, 0]
    sizes = [h[2] for h in hot]
    assert sizes == sorted(sizes) and sizes[-1] == 5


def test_stream_er_ptable_state_tables_drained_equals_batch(spark, tmp_path):
    """state_num_buckets routes the RECORD and ASSIGNMENT tables through
    bucketed ptables (the golden dimension already was one): same
    drained assignment and golden rows as the full-batch resolve, with
    per-batch MERGEs rewriting only affected buckets instead of the
    flat path's full-table rewrite — the remaining linear term of the
    incgold 64x row."""
    from mgo_liveagent_data_pipeline_spark.operators.entity import (
        golden_records,
        resolve_entities,
    )
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        read_partitioned,
    )
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_entity_resolution,
    )

    recs = [
        (10, 1, "Acme Metals Corp", "25-989-741", "12 Dock Rd"),
        (11, 1, "acme metals corp inc", "25989741", "12 Dock Road Pier 4"),
        (12, 1, "ACME METALS CORP", None, "12 D"),
        (20, 1, "Blue Harbour Ltd", "77-111-222", "9 Quay St"),
        (21, 1, "BH Logistics", "77111222", "9 Quay Street"),
        (30, 1, "Cedar Freight", "55-000-111", "1 Yard Ln"),
        (15, 1, "Acme Metals Corp", "77-111-222", "somewhere"),
    ]
    cols = ["rec_id", "block_key", "name", "phone", "address"]
    df = spark.createDataFrame(recs, cols)
    RULES = {"name": "first_by_key", "phone": "min", "address": "longest"}
    base = str(tmp_path / "erp")
    asg_path, golden_path = stream_entity_resolution(
        spark, df, base, n_batches=3, n_state_partitions=1,
        golden_rules=RULES, golden_num_buckets=4, state_num_buckets=4,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert asg_path.endswith(".ptable")
    got = {
        r["rec_id"]: (r["entity_id"], r["n_records"])
        for r in read_partitioned(spark, base, "er_assignment").collect()
    }
    want = {
        r["rec_id"]: (r["entity_id"], r["n_records"])
        for r in resolve_entities(df).collect()
    }
    assert got == want
    recs_back = read_partitioned(spark, base, "er_records")
    assert {r["rec_id"] for r in recs_back.collect()} == {r[0] for r in recs}
    gold = {
        r["entity_id"]: (r["n_records"], r["name"])
        for r in read_partitioned(spark, base, "er_golden").collect()
    }
    want_gold = {
        r["entity_id"]: (r["n_records"], r["name"])
        for r in golden_records(df, resolve_entities(df), rules=RULES).collect()
    }
    assert gold == want_gold


def test_stream_er_block_index_drained_equals_batch(spark, tmp_path):
    """block_index_buckets replaces the records-side standing scan with
    a secondary block-index probe (index buckets for the delta's block
    values -> neighborhood rec_ids -> those records' buckets): the
    drained assignment and golden dimension must still equal the
    full-batch resolve bit for bit — the index is pure I/O pruning.
    Built from a FRESH stream (no pre-seeded state), so later batches
    probe an index earlier batches maintained."""
    import pytest

    from mgo_liveagent_data_pipeline_spark.operators.entity import (
        golden_records,
        resolve_entities,
    )
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        read_partitioned,
    )
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_entity_resolution,
    )

    recs = [
        (10, 1, "Acme Metals Corp", "25-989-741", "12 Dock Rd"),
        (11, 1, "acme metals corp inc", "25989741", "12 Dock Road Pier 4"),
        (12, 1, "ACME METALS CORP", None, "12 D"),
        (20, 1, "Blue Harbour Ltd", "77-111-222", "9 Quay St"),
        (21, 1, "BH Logistics", "77111222", "9 Quay Street"),
        (30, 1, "Cedar Freight", "55-000-111", "1 Yard Ln"),
        (15, 1, "Acme Metals Corp", "77-111-222", "somewhere"),
    ]
    cols = ["rec_id", "block_key", "name", "phone", "address"]
    df = spark.createDataFrame(recs, cols)
    RULES = {"name": "first_by_key", "phone": "min", "address": "longest"}
    base = str(tmp_path / "erbi")
    asg_path, _ = stream_entity_resolution(
        spark, df, base, n_batches=3, n_state_partitions=1,
        golden_rules=RULES, golden_num_buckets=4, state_num_buckets=4,
        block_index_buckets=4, index_compact_every=2,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        r["rec_id"]: (r["entity_id"], r["n_records"])
        for r in read_partitioned(spark, base, "er_assignment").collect()
    }
    want = {
        r["rec_id"]: (r["entity_id"], r["n_records"])
        for r in resolve_entities(df).collect()
    }
    assert got == want
    gold = {
        r["entity_id"]: (r["n_records"], r["name"])
        for r in read_partitioned(spark, base, "er_golden").collect()
    }
    want_gold = {
        r["entity_id"]: (r["n_records"], r["name"])
        for r in golden_records(df, resolve_entities(df), rules=RULES).collect()
    }
    assert gold == want_gold
    # the index holds exactly the stored records' memberships (one row
    # per non-null block value), split across the compacted BASE
    # (batches 0-1, folded at the index_compact_every=2 cadence) and
    # the TAIL (batch 2) — the reader helper unions both
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        read_er_block_index,
    )

    idx = read_er_block_index(spark, base)
    assert {(r["p"], r["bk"], r["rec_id"]) for r in idx.collect()} == {
        (0, "1", rid) for rid in (10, 11, 12, 20, 21, 30, 15)
    }
    assert read_partitioned(spark, base, "er_blockindex").count() > 0  # base
    import os as _os

    tail = [
        f for f in _os.listdir(str(tmp_path / "erbi" / "er_blockindex.tail"))
        if f.endswith(".parquet")
    ]
    assert tail  # batch 2's un-compacted token file
    # the flat path refuses the index (it cannot prune a flat record
    # table — a silent full scan would betray the option's contract)
    with pytest.raises(ValueError, match="state_num_buckets"):
        stream_entity_resolution(
            spark, df, str(tmp_path / "er2"), block_index_buckets=4,
        )


def test_stream_er_auto_state_migrates_at_threshold(spark, tmp_path):
    """state_auto_threshold picks the state layout at the measured
    crossover: a run whose standing record count never reaches the
    threshold stays on the flat default; a run that crosses it migrates
    BOTH state tables to bucketed ptables mid-stream (one O(table)
    step, flat dirs swept) and keeps resolving correctly across the
    boundary — the drained assignment and golden dimension equal the
    full-batch answer either way."""
    import mgo_liveagent_data_pipeline_spark.streaming.windows as W
    from mgo_liveagent_data_pipeline_spark.operators.entity import (
        golden_records,
        resolve_entities,
    )
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        read_partitioned,
        table_path,
    )

    recs = [
        (10, 1, "Acme Metals Corp", "25-989-741", "12 Dock Rd"),
        (11, 1, "acme metals corp inc", "25989741", "12 Dock Road Pier 4"),
        (12, 1, "ACME METALS CORP", None, "12 D"),
        (20, 2, "Blue Harbour Ltd", "77-111-222", "9 Quay St"),
        (21, 2, "BH Logistics", "77111222", "9 Quay Street"),
        (30, 3, "Cedar Freight", "55-000-111", "1 Yard Ln"),
        (15, 1, "Acme Metals Corp", "77-111-222", "somewhere"),
    ]
    cols = ["rec_id", "block_key", "name", "phone", "address"]
    df = spark.createDataFrame(recs, cols)
    RULES = {"name": "first_by_key", "phone": "min", "address": "longest"}

    # below threshold: flat layout preserved end to end
    base_lo = str(tmp_path / "auto_lo")
    asg_path, _ = W.stream_entity_resolution(
        spark, df, base_lo, n_batches=3, n_state_partitions=1,
        golden_rules=RULES, golden_num_buckets=4,
        state_num_buckets=4, state_auto_threshold=1_000_000,
        checkpoint_dir=str(tmp_path / "ckpt_lo"),
    )
    assert asg_path == table_path(base_lo, "er_assignment")
    assert not os.path.exists(base_lo + "/er_assignment.ptable/_MANIFEST")
    got_lo = {
        r["rec_id"]: (r["entity_id"], r["n_records"])
        for r in spark.read.parquet(asg_path).collect()
    }

    # crossing mid-stream: batch 0 lands flat (0 standing rows at its
    # migration check), later batches find >= 2 standing records and
    # migrate, then keep ingesting on the bucketed path
    base_hi = str(tmp_path / "auto_hi")
    asg_path_hi, _ = W.stream_entity_resolution(
        spark, df, base_hi, n_batches=3, n_state_partitions=1,
        golden_rules=RULES, golden_num_buckets=4,
        state_num_buckets=4, state_auto_threshold=2,
        checkpoint_dir=str(tmp_path / "ckpt_hi"),
    )
    assert asg_path_hi.endswith(".ptable")
    # flat dirs swept after the migration commit
    assert not os.path.exists(table_path(base_hi, "er_records"))
    assert not os.path.exists(table_path(base_hi, "er_assignment"))
    got_hi = {
        r["rec_id"]: (r["entity_id"], r["n_records"])
        for r in read_partitioned(spark, base_hi, "er_assignment").collect()
    }
    want = {
        r["rec_id"]: (r["entity_id"], r["n_records"])
        for r in resolve_entities(df).collect()
    }
    assert got_lo == want and got_hi == want
    gold = {
        r["entity_id"]: (r["n_records"], r["name"])
        for r in read_partitioned(spark, base_hi, "er_golden").collect()
    }
    want_gold = {
        r["entity_id"]: (r["n_records"], r["name"])
        for r in golden_records(
            df, resolve_entities(df), rules=RULES
        ).collect()
    }
    assert gold == want_gold
    # the option refuses the secondary index (bucketed-from-batch-0 only)
    with pytest.raises(ValueError, match="state_auto_threshold"):
        W.stream_entity_resolution(
            spark, df, str(tmp_path / "auto_bad"),
            state_num_buckets=4, state_auto_threshold=2,
            block_index_buckets=4,
        )


def test_stream_er_background_compaction_settles_and_surfaces_errors(
    spark, tmp_path, monkeypatch
):
    """Round-12 background index compaction: (a) after the stream
    returns, a mid-stream fold has been settled deterministically —
    folded tail tokens are gone, un-triggered tail tokens remain, and
    the index content is exact (dedup-at-read never needed at rest);
    (b) a fold that raises in its background thread surfaces to the
    caller at the next sync point instead of being swallowed."""
    import mgo_liveagent_data_pipeline_spark.streaming.windows as W
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        read_partitioned,
    )

    recs = [
        (10, 1, "Acme Metals Corp", "25-989-741", "12 Dock Rd"),
        (11, 1, "acme metals corp inc", "25989741", "12 Dock Road Pier 4"),
        (20, 2, "Blue Harbour Ltd", "77-111-222", "9 Quay St"),
        (30, 3, "Cedar Freight", "55-000-111", "1 Yard Ln"),
    ]
    cols = ["rec_id", "block_key", "name", "phone", "address"]
    df = spark.createDataFrame(recs, cols)
    base = str(tmp_path / "bgc")
    W.stream_entity_resolution(
        spark, df, base, n_batches=4, n_state_partitions=1,
        state_num_buckets=4, block_index_buckets=4,
        index_compact_every=2,  # folds after batches 2 and 4
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # stream end settles the last fold: every token folded, none left
    tail_dir = str(tmp_path / "bgc" / "er_blockindex.tail")
    leftover = [
        f for f in os.listdir(tail_dir) if f.endswith(".parquet")
    ] if os.path.isdir(tail_dir) else []
    assert leftover == []
    idx = W.read_er_block_index(spark, base)
    assert {(r["p"], r["bk"], r["rec_id"]) for r in idx.collect()} == {
        (0, "1", 10), (0, "1", 11), (0, "2", 20), (0, "3", 30),
    }
    assert read_partitioned(spark, base, "er_blockindex").count() == 4

    # (b) a failing background fold must fail the stream, not vanish
    def _boom(*a, **k):
        raise RuntimeError("fold died")

    monkeypatch.setattr(W, "compact_er_block_index", _boom)
    # cadence = n_batches: the fold triggers on the LAST batch, so the
    # error deterministically surfaces at the stream-end sync point
    # (a mid-stream fold error surfaces inside the next foreachBatch,
    # wrapped in StreamingQueryException — same visibility, wrapped)
    with pytest.raises(RuntimeError, match="fold died"):
        W.stream_entity_resolution(
            spark, df, str(tmp_path / "bgc2"), n_batches=2,
            n_state_partitions=1, state_num_buckets=4,
            block_index_buckets=4, index_compact_every=2,
            checkpoint_dir=str(tmp_path / "ckpt2"),
        )


def test_stream_er_failed_stream_joins_fold_and_chains_its_error(
    spark, tmp_path, monkeypatch
):
    """A stream that fails while a background fold is in flight still
    joins the fold before raising (the caller may delete the table next),
    and a fold error pending behind the stream error is chained onto it
    instead of being lost."""
    import threading
    import time

    import mgo_liveagent_data_pipeline_spark.sinks.writers as writers
    import mgo_liveagent_data_pipeline_spark.streaming.windows as W

    fold_started = threading.Event()
    stream_failed = threading.Event()
    fold_done = threading.Event()

    def _slow_failing_fold(*a, **k):
        fold_started.set()
        stream_failed.wait(60)
        # outlive the stream's own teardown: an unjoined fold would still
        # be running when the caller sees the stream error
        time.sleep(3)
        fold_done.set()
        raise RuntimeError("fold died")

    real_probe = writers.read_partitioned_for_keys

    def _probe_then_fail(*a, **k):
        if fold_started.is_set():
            stream_failed.set()
            raise RuntimeError("ingest died")
        return real_probe(*a, **k)

    monkeypatch.setattr(W, "compact_er_block_index", _slow_failing_fold)
    monkeypatch.setattr(
        writers, "read_partitioned_for_keys", _probe_then_fail
    )
    recs = [
        (10, 1, "Acme Metals Corp", "25-989-741", "12 Dock Rd"),
        (11, 1, "acme metals corp inc", "25989741", "12 Dock Road Pier 4"),
        (20, 2, "Blue Harbour Ltd", "77-111-222", "9 Quay St"),
        (30, 3, "Cedar Freight", "55-000-111", "1 Yard Ln"),
    ]
    df = spark.createDataFrame(
        recs, ["rec_id", "block_key", "name", "phone", "address"]
    )
    # the fold starts after batch 1; batch 2's neighborhood probe fails
    with pytest.raises(Exception, match="ingest died") as ei:
        W.stream_entity_resolution(
            spark, df, str(tmp_path / "bgf"), n_batches=4,
            n_state_partitions=1, state_num_buckets=4,
            block_index_buckets=4, index_compact_every=2,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
    assert fold_done.is_set()
    assert isinstance(ei.value.__cause__, RuntimeError)
    assert "fold died" in str(ei.value.__cause__)


def test_stream_er_block_index_multi_pass_recovers_dirty_key(spark, tmp_path):
    """The multi-pass miss-recovery contract survives the indexed path:
    a record whose primary block key is corrupted is still recovered
    through its phone-prefix pass, because the index carries one
    membership row PER PASS and the neighborhood probe matches
    (pass, value) pairs exactly."""
    from mgo_liveagent_data_pipeline_spark.operators.entity import (
        resolve_entities,
    )
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        read_partitioned,
    )
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stream_entity_resolution,
    )

    rows = [
        # (rec_id, block_key, block_key2, name, phone)
        (10, 1, "2598", "Acme Metals Corp", "25-989-741"),
        (11, 1, "2598", "acme metals corp inc", "25989741"),
        # corrupted primary key — only the phone-prefix pass can pair it
        (13, 9, "2598", "acme metals corp", "25 989 741"),
        (20, 1, "7711", "Blue Harbour Ltd", "77-111-222"),
        (30, 1, None, "Cedar Freight", None),
    ]
    df = spark.createDataFrame(
        rows, ["rec_id", "block_key", "block_key2", "name", "phone"]
    )
    base = str(tmp_path / "erbim")
    stream_entity_resolution(
        spark, df, base, n_batches=3, n_state_partitions=1,
        block_col=["block_key", "block_key2"],
        state_num_buckets=4, block_index_buckets=4,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        r["rec_id"]: r["entity_id"]
        for r in read_partitioned(spark, base, "er_assignment").collect()
    }
    want = {
        r["rec_id"]: r["entity_id"]
        for r in resolve_entities(
            df, block_col=["block_key", "block_key2"]
        ).collect()
    }
    assert got == want
    assert got[13] == got[10]  # recovered through pass 2
    # NULL pass-2 key generates no membership row
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        read_er_block_index,
    )

    idx = read_er_block_index(spark, base)
    assert not [r for r in idx.collect() if r["rec_id"] == 30 and r["p"] == 1]


def test_build_er_block_index_backfill_matches_streamed(spark, tmp_path):
    """Bootstrapping the index over an externally-seeded record table
    produces exactly the rows the stream loop would have maintained —
    the migration path onto block_index_buckets, and the self-heal for
    a suspected-incomplete index (idempotent re-MERGE)."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        read_partitioned,
    )
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        build_er_block_index,
    )

    df = spark.createDataFrame(
        [(1, 5, "77"), (2, 5, None), (3, 6, "77")],
        ["rec_id", "block_key", "block_key2"],
    )
    base = str(tmp_path / "bf")
    build_er_block_index(
        spark, df, base, block_col=["block_key", "block_key2"],
        num_buckets=4,
    )
    # re-run = no-op (idempotent on the embedded composite key)
    build_er_block_index(
        spark, df, base, block_col=["block_key", "block_key2"],
        num_buckets=4,
    )
    idx = {(r["p"], r["bk"], r["rec_id"])
           for r in read_partitioned(spark, base, "er_blockindex").collect()}
    assert idx == {
        (0, "5", 1), (0, "5", 2), (0, "6", 3), (1, "77", 1), (1, "77", 3),
    }
    # mid-compaction duplicate tolerance (the dedup-at-read contract):
    # a membership present in BOTH base and an un-compacted tail token
    # appears twice in the raw union, once after the consumer's
    # (p, bk, rec_id) distinct — exactly what the neighborhood probe does
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        _er_block_memberships,
        _er_index_tail_write,
        read_er_block_index,
    )

    dup = _er_block_memberships(
        df.where("rec_id = 1"), ["block_key", "block_key2"]
    )
    _er_index_tail_write(spark, dup, base, "er_blockindex", 7)
    raw = read_er_block_index(spark, base)
    assert raw.count() == 7  # 5 base + 2 duplicated tail rows
    assert raw.select("p", "bk", "rec_id").distinct().count() == 5
