"""Sink property tests — K4 idempotence is SURVEY §5.4's headline property."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mgo_liveagent_data_pipeline_spark.sinks.writers import (
    _current_table,
    append,
    ensure_table,
    history_append,
    overwrite,
    read_flat,
    table_path,
    upsert,
)


def seed(spark, tmp, rows):
    df = spark.createDataFrame(rows, ["id", "v"])
    overwrite(df, tmp, "t")
    return df


def read(spark, tmp, name="t"):
    return spark.read.parquet(table_path(tmp, name))


def test_ensure_table_creates_empty_once(spark, tmp_path):
    tmp = str(tmp_path)
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    ensure_table(spark, tmp, "t", df)
    assert read(spark, tmp).count() == 0
    # second call is a no-op even with different data
    ensure_table(spark, tmp, "t", df.withColumn("v", F.lit("zzz")))
    assert read(spark, tmp).count() == 0


def test_upsert_updates_and_inserts(spark, tmp_path):
    tmp = str(tmp_path)
    seed(spark, tmp, [(1, "old"), (2, "keep")])
    src = spark.createDataFrame([(1, "new"), (3, "ins")], ["id", "v"])
    upsert(spark, src, tmp, "t", "id")
    got = {r["id"]: r["v"] for r in read(spark, tmp).collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_upsert_idempotent(spark, tmp_path):
    tmp = str(tmp_path)
    seed(spark, tmp, [(1, "old"), (2, "keep")])
    src = spark.createDataFrame([(1, "new"), (3, "ins")], ["id", "v"])
    upsert(spark, src, tmp, "t", "id")
    once = sorted(map(tuple, read(spark, tmp).collect()))
    upsert(spark, src, tmp, "t", "id")
    twice = sorted(map(tuple, read(spark, tmp).collect()))
    assert once == twice


def test_upsert_creates_missing_target(spark, tmp_path):
    tmp = str(tmp_path)
    src = spark.createDataFrame([(1, "a")], ["id", "v"])
    upsert(spark, src, tmp, "t", "id")
    assert read(spark, tmp).count() == 1


def test_history_append_accumulates(spark, tmp_path):
    tmp = str(tmp_path)
    batch = spark.createDataFrame([(1, "a")], ["id", "v"])
    history_append(spark, batch, tmp, "t")
    history_append(spark, batch, tmp, "t")
    assert read(spark, tmp, "t_history").count() == 2


def test_history_append_first_append_creates_typed_table(spark, tmp_path):
    """The first append into an absent history table creates it with the
    frame's schema, an empty frame included: no separate create-if-absent
    write is needed."""
    tmp = str(tmp_path)
    ddl = "id bigint, v string, ts timestamp"
    empty = spark.createDataFrame([], ddl)
    full = spark.createDataFrame([(1, "a", None)], ddl)
    history_append(spark, empty, tmp, "e")
    history_append(spark, full, tmp, "f")
    assert read(spark, tmp, "e_history").schema == empty.schema
    assert read(spark, tmp, "e_history").count() == 0
    assert read(spark, tmp, "f_history").schema == full.schema
    assert read(spark, tmp, "f_history").collect() == full.collect()


def _jobs_in(spark, group, run):
    """Spark jobs ``run`` submits, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_flat_reads_take_the_stored_schema_without_a_job(spark, tmp_path):
    """``_current_table`` and the routes' ``read_table`` take the schema
    Spark stored in a part file's footer: the same schema inference
    gives, with no inference job."""
    from mgo_liveagent_data_pipeline_spark.pipelines import read_table

    tmp = str(tmp_path)
    df = spark.createDataFrame(
        [(1, "a", [1, 2], {"k": 1.5})],
        "id int not null, v string, xs array<int>, m map<string,double>",
    ).withColumn("ts", F.current_timestamp())
    append(df, tmp, "t")
    path = table_path(tmp, "t")
    inferred = spark.read.parquet(path)
    got, jobs = _jobs_in(spark, "flat_read_current", lambda: _current_table(spark, path))
    assert jobs == 0
    assert got.schema == inferred.schema
    got, jobs = _jobs_in(spark, "flat_read_route", lambda: read_table(spark, tmp, "t"))
    assert jobs == 0
    assert got.schema == inferred.schema
    assert got.collect() == inferred.collect()


def test_streamed_tables_read_with_their_stored_schema(spark, tmp_path):
    """Staging three micro-batches submits the three writes and no
    inference job: the file stream opens with the staged files' stored
    schema. A staged member's input and the table its batches MERGE
    into read back through ``read_flat`` with the schema inference
    gives, and no job."""
    from mgo_liveagent_data_pipeline_spark.streaming.windows import (
        stage_doc_batches,
        stream_gated_ingest,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )
    (stream, stage), jobs = _jobs_in(
        spark,
        "stage_batches",
        lambda: stage_doc_batches(spark, docs, str(tmp_path / "a"), 3, "doc_id"),
    )
    assert jobs == 3
    assert stream.schema == spark.read.parquet(stage).schema
    base = str(tmp_path / "b")
    kept, _quarantine = stream_gated_ingest(
        spark, docs, base, [("not_null", "text")], n_state_partitions=1
    )
    for path in (os.path.join(base, "gated_ingest"), kept):
        got, jobs = _jobs_in(
            spark, f"read_{path}", lambda p=path: read_flat(spark, p)
        )
        assert jobs == 0
        assert got.schema == spark.read.parquet(path).schema
    assert sorted(read_flat(spark, kept).collect()) == sorted(docs.collect())


def test_flat_read_without_spark_footer_falls_back_to_inference(spark, tmp_path):
    """A table another engine wrote carries no Spark schema key in its
    footers: the reader infers, like ``spark.read.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ext.parquet")
    os.makedirs(path)
    pq.write_table(
        pa.table({"id": [1, 2], "v": ["a", None]}),
        os.path.join(path, "part-0.parquet"),
    )
    got, jobs = _jobs_in(spark, "flat_read_foreign", lambda: read_flat(spark, path))
    assert jobs >= 1  # the inference job
    assert got.schema == spark.read.parquet(path).schema
    assert sorted(got.collect()) == [(1, "a"), (2, None)]


def test_append_then_overwrite(spark, tmp_path):
    tmp = str(tmp_path)
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    append(df, tmp, "t")
    append(df, tmp, "t")
    assert read(spark, tmp).count() == 2
    overwrite(df, tmp, "t")
    assert read(spark, tmp).count() == 1
    assert not os.path.exists(table_path(tmp, "t") + ".old")


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    from mgo_liveagent_data_pipeline_spark.sinks.writers import write_bucketed

    tmp = str(tmp_path)
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    lname = write_bucketed(spark, left, tmp, "bkt_left", "k", 4)
    rname = write_bucketed(spark, right, tmp, "bkt_right", "k", 4)
    assert lname != "bkt_left"  # namespaced per base_dir
    try:
        # merge hint: at this toy size Spark would broadcast; production
        # fact-fact sizes take the sort-merge path this test asserts on
        joined = spark.table(lname).hint("merge").join(
            spark.table(rname).hint("merge"), "k"
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        # co-located buckets: the merge join runs with NO exchange at all
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == 1000
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lname}")
        spark.sql(f"DROP TABLE IF EXISTS {rname}")


def test_versioned_table_atomic_pointer_flip(spark, tmp_path):
    import os

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        _versioned_dir,
        read_versioned,
        versioned_upsert,
        versioned_write,
    )

    tmp = str(tmp_path)
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    versioned_write(v1, tmp, "t")
    assert read_versioned(spark, tmp, "t").count() == 2

    # a fully-written but uncommitted version is invisible to readers
    vdir = _versioned_dir(tmp, "t")
    orphan = os.path.join(vdir, "v_99")
    spark.createDataFrame([(9, "x")], ["id", "v"]).write.parquet(orphan)
    assert read_versioned(spark, tmp, "t").count() == 2

    # upsert publishes atomically; the pointer always names a version
    src = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    versioned_upsert(spark, src, tmp, "t", "id")
    versioned_upsert(spark, src, tmp, "t", "id")  # idempotent
    rows = {r["id"]: r["v"] for r in read_versioned(spark, tmp, "t").collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}
    cur = open(os.path.join(vdir, "_CURRENT")).read()
    assert os.path.isdir(os.path.join(vdir, cur))


def test_versioned_time_travel_window(spark, tmp_path):
    import os

    import pytest

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        _versioned_dir,
        list_versions,
        read_versioned,
        versioned_upsert,
        versioned_write,
    )

    tmp = str(tmp_path)
    seed = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    versioned_write(seed, tmp, "t")                     # v1
    src = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    versioned_upsert(spark, src, tmp, "t", "id")        # v2

    # an allocated-but-never-committed orphan is NOT time-travelable
    vdir = _versioned_dir(tmp, "t")
    orphan = os.path.join(vdir, "v_99")
    spark.createDataFrame([(9, "x")], ["id", "v"]).write.parquet(orphan)
    assert list_versions(tmp, "t") == [1, 2]

    # version 1 is the pre-merge snapshot, current is the merged state
    old = {r["id"]: r["v"]
           for r in read_versioned(spark, tmp, "t", version=1).collect()}
    assert old == {1: "a", 2: "b"}
    now = {r["id"]: r["v"] for r in read_versioned(spark, tmp, "t").collect()}
    assert now == {1: "a", 2: "B", 3: "c"}

    # a third publish prunes v1 (keep=2): outside the window -> error
    versioned_upsert(spark, src, tmp, "t", "id")
    assert 1 not in list_versions(tmp, "t")
    with pytest.raises(ValueError, match="not readable"):
        read_versioned(spark, tmp, "t", version=1)
    with pytest.raises(ValueError, match="not readable"):
        read_versioned(spark, tmp, "t", version=99)


def test_writer_lease_breaks_stale_lock(spark, tmp_path):
    """A lock file left by a crashed writer (older than the TTL) is broken
    by the next writer instead of wedging the table forever."""
    import os
    import time as _time

    from mgo_liveagent_data_pipeline_spark.sinks import writers
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        _versioned_dir,
        read_versioned,
        versioned_write,
    )

    tmp = str(tmp_path)
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    versioned_write(df, tmp, "t")
    vdir = _versioned_dir(tmp, "t")
    lock = os.path.join(vdir, "_LOCK")
    # simulate a crashed holder: lock exists, mtime far in the past
    with open(lock, "w") as f:
        f.write("99999")
    stale = _time.time() - (writers._LEASE_TTL_S + 60)
    os.utime(lock, (stale, stale))
    versioned_write(df.withColumn("v", F.lit("b")), tmp, "t")  # must not hang
    rows = {r["v"] for r in read_versioned(spark, tmp, "t").collect()}
    assert rows == {"b"}
    assert not os.path.exists(lock)


def test_versioned_upsert_concurrent_writers(spark, tmp_path):
    """Two writers upserting DISJOINT key ranges at the same time: the
    writer lease serializes the read-merge-publish cycles, so neither
    update is lost and _CURRENT always names a complete version."""
    import os
    import threading

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        _versioned_dir,
        read_versioned,
        versioned_upsert,
        versioned_write,
    )

    tmp = str(tmp_path)
    versioned_write(
        spark.createDataFrame([(0, "base")], ["id", "v"]), tmp, "t", keep=10
    )

    errors: list[Exception] = []

    def writer(lo: int):
        try:
            src = spark.createDataFrame(
                [(lo + i, f"w{lo}") for i in range(5)], ["id", "v"]
            )
            versioned_upsert(spark, src, tmp, "t", "id", keep=10)
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(lo,)) for lo in (100, 200)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    rows = {r["id"]: r["v"] for r in read_versioned(spark, tmp, "t").collect()}
    # base row + both writers' disjoint batches all survive
    assert rows[0] == "base"
    assert all(rows[100 + i] == "w100" for i in range(5))
    assert all(rows[200 + i] == "w200" for i in range(5))
    vdir = _versioned_dir(tmp, "t")
    cur = open(os.path.join(vdir, "_CURRENT")).read()
    assert os.path.isdir(os.path.join(vdir, cur))
    assert not os.path.exists(os.path.join(vdir, "_LOCK"))  # lease released


# ------------------------------------------------------ partitioned MERGE
def _file_inventory(root):
    """relpath -> (mtime_ns, size, content-digest) for every file under root."""
    import hashlib

    inv = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            with open(p, "rb") as fh:
                digest = hashlib.sha1(fh.read()).hexdigest()
            inv[os.path.relpath(p, root)] = (st.st_mtime_ns, st.st_size, digest)
    return inv


def test_partitioned_upsert_equals_flat_merge(spark, tmp_path):
    """The bucket-pruned MERGE produces the identical table state as the
    whole-table merge — same keys, same replaced values, idempotent."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        partitioned_upsert,
        read_partitioned,
    )

    tmp = str(tmp_path)
    base = spark.range(0, 500).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    src = spark.createDataFrame(
        [(7, "NEW"), (123, "NEW"), (9999, "INS")], ["id", "v"]
    )
    # flat reference result
    overwrite(base, tmp, "flat")
    upsert(spark, src, tmp, "flat", "id")
    want = sorted(map(tuple, read(spark, tmp, "flat").collect()))
    # partitioned result, merged twice (idempotent)
    partitioned_upsert(spark, base, tmp, "pt", "id", num_buckets=8)
    partitioned_upsert(spark, src, tmp, "pt", "id")
    partitioned_upsert(spark, src, tmp, "pt", "id")
    got = sorted(map(tuple, read_partitioned(spark, tmp, "pt").collect()))
    assert got == want


def test_partitioned_upsert_leaves_untouched_buckets_byte_identical(
    spark, tmp_path
):
    """The round-4 scale mandate: a small delta rewrites ONLY the buckets
    containing its keys — every other bucket's files survive bit-for-bit
    (mtime, size, and content unchanged)."""
    import json as _json

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        _ptable_dir,
        partitioned_upsert,
        read_partitioned,
    )

    tmp = str(tmp_path)
    base = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    partitioned_upsert(spark, base, tmp, "pt", "id", num_buckets=16)
    pdir = _ptable_dir(tmp, "pt")
    with open(os.path.join(pdir, "_MANIFEST")) as f:
        man_before = _json.load(f)
    inv_before = _file_inventory(pdir)

    # ~0.3% of keys — touches a strict subset of the 16 buckets
    src = spark.createDataFrame([(5, -1), (42, -1), (777, -1)], ["id", "v"])
    partitioned_upsert(spark, src, tmp, "pt", "id")

    with open(os.path.join(pdir, "_MANIFEST")) as f:
        man_after = _json.load(f)
    changed = {
        b for b in man_after["buckets"]
        if man_after["buckets"][b] != man_before["buckets"].get(b)
    }
    unchanged = set(man_before["buckets"]) - changed
    assert changed, "delta must touch at least one bucket"
    assert unchanged, "delta must leave most buckets untouched"
    assert len(changed) <= 3  # ≤ one bucket per distinct source key

    inv_after = _file_inventory(pdir)
    for b in unchanged:
        d = man_before["buckets"][b]
        before = {k: v for k, v in inv_before.items() if k.startswith(d + os.sep)}
        after = {k: v for k, v in inv_after.items() if k.startswith(d + os.sep)}
        assert before == after, f"bucket {b} files changed: {d}"

    rows = {r["id"]: r["v"] for r in read_partitioned(spark, tmp, "pt").collect()}
    assert rows[5] == -1 and rows[42] == -1 and rows[777] == -1
    assert rows[6] == 12 and len(rows) == 1000


def test_partitioned_delete_keys_prunes_and_drops_empty(spark, tmp_path):
    """The round-10 sweep contract: a MERGE-DELETE rewrites ONLY the
    buckets containing its keys (untouched buckets byte-identical),
    skips keys whose bucket doesn't exist (no bucket is created), and a
    bucket whose rows all die LEAVES the manifest instead of silently
    resurrecting its rows."""
    import json as _json

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        _ptable_dir,
        partitioned_delete_keys,
        partitioned_upsert,
        read_partitioned,
    )

    tmp = str(tmp_path)
    base = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    partitioned_upsert(spark, base, tmp, "pt", "id", num_buckets=16)
    pdir = _ptable_dir(tmp, "pt")
    with open(os.path.join(pdir, "_MANIFEST")) as f:
        man_before = _json.load(f)
    inv_before = _file_inventory(pdir)

    # delete three keys (≤ 3 buckets) + one key far outside the table
    keys = spark.createDataFrame(
        [(5,), (42,), (777,), (10**9,)], ["id"]
    )
    partitioned_delete_keys(spark, keys, tmp, "pt", "id")

    with open(os.path.join(pdir, "_MANIFEST")) as f:
        man_after = _json.load(f)
    changed = {
        b for b in man_after["buckets"]
        if man_after["buckets"][b] != man_before["buckets"].get(b)
    }
    unchanged = set(man_before["buckets"]) - changed
    assert changed and len(changed) <= 4 and unchanged
    # no bucket was created for the absent key's hash
    assert set(man_after["buckets"]) <= set(man_before["buckets"])
    inv_after = _file_inventory(pdir)
    for b in unchanged:
        d = man_before["buckets"][b]
        before = {k: v for k, v in inv_before.items() if k.startswith(d + os.sep)}
        after = {k: v for k, v in inv_after.items() if k.startswith(d + os.sep)}
        assert before == after, f"bucket {b} files changed: {d}"

    rows = {r["id"]: r["v"] for r in read_partitioned(spark, tmp, "pt").collect()}
    assert len(rows) == 997 and 5 not in rows and 777 not in rows
    assert rows[6] == 12

    # idempotent: same delete again is a no-op
    partitioned_delete_keys(spark, keys, tmp, "pt", "id")
    assert read_partitioned(spark, tmp, "pt").count() == 997

    # emptying a whole bucket removes it from the manifest
    all_keys = spark.range(0, 1000).select("id")
    partitioned_delete_keys(spark, all_keys, tmp, "pt", "id")
    with open(os.path.join(pdir, "_MANIFEST")) as f:
        man_empty = _json.load(f)
    assert man_empty["buckets"] == {}


@pytest.mark.parametrize(
    "writer", ["upsert", "scd2_upsert", "delete_keys", "compact"]
)
def test_flat_writer_restores_crashed_swap(spark, tmp_path, writer):
    """Every read-before-replace flat writer restores the '.old' copy an
    interrupted swap left behind BEFORE it reads the table: none may take
    the table for absent and replace the committed rows with its batch
    (or, for a delete, silently skip the sweep)."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        compact,
        delete_keys,
        scd2_upsert,
    )

    base = str(tmp_path)
    path = table_path(base, "t")
    first = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    batch = spark.createDataFrame([(1, "A"), (3, "c")], "id long, v string")
    if writer == "scd2_upsert":
        scd2_upsert(spark, first, base, "t", "id", T1)
    elif writer == "compact":
        for _ in range(3):
            append(first.repartition(2), base, "t")
    else:
        upsert(spark, first, base, "t", "id")
    # simulate a crash inside _atomic_overwrite's swap window
    os.rename(path, path + ".old")

    if writer == "upsert":
        upsert(spark, batch, base, "t", "id")
        want = [(1, "A"), (2, "b"), (3, "c")]
    elif writer == "scd2_upsert":
        scd2_upsert(spark, batch, base, "t", "id", T2)
        want = [
            (1, "A", T2, "None", True),
            (1, "a", T1, T2, False),
            (2, "b", T1, "None", True),
            (3, "c", T2, "None", True),
        ]
    elif writer == "delete_keys":
        delete_keys(spark, batch.select("id"), base, "t", "id")
        want = [(2, "b")]
    else:
        assert compact(spark, base, "t", max_files=2, target_files=1) == 1
        want = [(1, "a")] * 3 + [(2, "b")] * 3
    got = (
        _scd2_rows(spark, base, "t")
        if writer == "scd2_upsert"
        else sorted(tuple(r) for r in read(spark, base).collect())
    )
    assert got == want
    assert not os.path.exists(path + ".old")


def test_partitioned_upsert_inserts_new_bucket_and_prunes_versions(
    spark, tmp_path
):
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        _ptable_dir,
        partitioned_upsert,
        read_partitioned,
    )

    tmp = str(tmp_path)
    # seed with TWO keys only: most buckets start absent
    seed_df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    partitioned_upsert(spark, seed_df, tmp, "pt", "id", num_buckets=32, keep=2)
    # insert keys landing in fresh buckets, thrice (forces version churn)
    for tag in ("x", "y", "z"):
        src = spark.createDataFrame([(1, tag), (500 + len(tag), tag)], ["id", "v"])
        partitioned_upsert(spark, src, tmp, "pt", "id", keep=2)
    rows = {r["id"]: r["v"] for r in read_partitioned(spark, tmp, "pt").collect()}
    assert rows[1] == "z" and rows[2] == "b"
    # keep=2: at most current + one retired version dir per bucket
    pdir = _ptable_dir(tmp, "pt")
    import collections
    per_bucket = collections.Counter(
        d.split("_v")[0] for d in os.listdir(pdir)
        if d.startswith("b") and "_v" in d
    )
    assert all(n <= 2 for n in per_bucket.values()), per_bucket


def test_range_bucketed_upsert_tail_delta_touches_one_bucket(spark, tmp_path):
    """Range bucketing for monotone keys: a recency-skewed delta (the
    reference's 6-hour window updates mostly-new tickets) lands in the
    TAIL bucket(s) only — where hash bucketing would spray the same
    delta across min(|keys|, N) buckets ≈ the whole table."""
    import json as _json

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        _ptable_dir,
        partitioned_upsert,
        read_partitioned,
        read_partitioned_for_keys,
    )

    tmp = str(tmp_path)
    base = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    partitioned_upsert(spark, base, tmp, "pt", "id", range_width=100)
    pdir = _ptable_dir(tmp, "pt")
    with open(os.path.join(pdir, "_MANIFEST")) as f:
        man_before = _json.load(f)
    assert man_before["range_width"] == 100
    assert len(man_before["buckets"]) == 10
    inv_before = _file_inventory(pdir)

    # 30 recent keys: 20 updates at the tail + 10 brand-new beyond it
    delta = spark.range(980, 1010).select(F.col("id"), F.lit(-1).alias("v"))
    partitioned_upsert(spark, delta, tmp, "pt", "id")

    with open(os.path.join(pdir, "_MANIFEST")) as f:
        man_after = _json.load(f)
    changed = {
        b for b in man_after["buckets"]
        if man_after["buckets"][b] != man_before["buckets"].get(b)
    }
    assert changed == {"9", "10"}  # tail bucket + the new one
    for b in set(man_before["buckets"]) - changed:
        d = man_before["buckets"][b]
        before = {k: v for k, v in inv_before.items() if k.startswith(d + os.sep)}
        after = {
            k: v for k, v in _file_inventory(pdir).items()
            if k.startswith(d + os.sep)
        }
        assert before == after, f"bucket {b} files changed"

    rows = {r["id"]: r["v"] for r in read_partitioned(spark, tmp, "pt").collect()}
    assert len(rows) == 1010 and rows[985] == -1 and rows[1005] == -1
    assert rows[5] == 10
    # point lookups prune by the same range layout
    probe = spark.createDataFrame([(985,), (5,)], ["id"])
    got = read_partitioned_for_keys(spark, tmp, "pt", probe, "id")
    assert sorted(map(tuple, got.collect())) == [(5, 10), (985, -1)]
    assert len(got.inputFiles()) <= 2


def test_read_partitioned_range_prunes_by_arithmetic(spark, tmp_path):
    import pytest

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        partitioned_upsert,
        read_partitioned,
        read_partitioned_range,
    )

    tmp = str(tmp_path)
    base = spark.range(0, 1000).select(F.col("id"), (F.col("id") * 7).alias("v"))
    partitioned_upsert(spark, base, tmp, "pt", "id", range_width=100)
    got = read_partitioned_range(spark, tmp, "pt", "id", 250, 449)
    rows = sorted(r["id"] for r in got.collect())
    assert rows == list(range(250, 450))
    n_all = len(read_partitioned(spark, tmp, "pt").inputFiles())
    assert n_all == 10
    assert len(got.inputFiles()) == 3  # buckets 2, 3, 4 only
    # empty range beyond the table
    assert read_partitioned_range(spark, tmp, "pt", "id", 5000, 6000).count() == 0
    # hash-bucketed tables refuse range scans loudly
    partitioned_upsert(spark, base, tmp, "ph", "id", num_buckets=8)
    with pytest.raises(ValueError, match="hash-bucketed"):
        read_partitioned_range(spark, tmp, "ph", "id", 0, 10)


# ----------------------------------------------------------- lease hardening
def test_lease_exit_never_unlinks_successor_lock(tmp_path):
    from mgo_liveagent_data_pipeline_spark.sinks.writers import WriterLease

    vdir = str(tmp_path)
    lease = WriterLease(vdir)
    with lease:
        # simulate a thief replacing the lock mid-hold
        with open(lease.path, "w") as f:
            f.write("someone-else")
    # __exit__ must have left the foreign lock alone
    assert open(lease.path).read() == "someone-else"
    os.unlink(lease.path)


def test_lease_heartbeat_keeps_long_write_alive(tmp_path):
    """A legitimate hold longer than the TTL is NOT stolen: the holder's
    heartbeat refreshes the lock mtime, so a contender waits for the real
    release instead of breaking the lease mid-write."""
    import threading
    import time as _time

    from mgo_liveagent_data_pipeline_spark.sinks.writers import WriterLease

    vdir = str(tmp_path)
    release = threading.Event()
    held_past_ttl = threading.Event()
    acquired_at: list[float] = []

    def holder():
        with WriterLease(vdir, ttl=0.4):
            _time.sleep(1.0)  # 2.5× the TTL; heartbeat fires every 0.1 s
            held_past_ttl.set()
        release.set()

    def contender():
        with WriterLease(vdir, ttl=0.4):
            acquired_at.append(_time.monotonic())

    t1 = threading.Thread(target=holder)
    t1.start()
    _time.sleep(0.1)
    t2 = threading.Thread(target=contender)
    t2.start()
    t1.join()
    t2.join()
    assert held_past_ttl.is_set()
    assert release.is_set()
    assert acquired_at, "contender eventually acquired"


def test_publish_aborts_on_stolen_lease(spark, tmp_path):
    import pytest

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        LeaseLostError,
        WriterLease,
        _publish_version,
    )

    vdir = str(tmp_path)
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    lease = WriterLease(vdir)
    with lease:
        with open(lease.path, "w") as f:
            f.write("thief")  # lease stolen mid-write
        with pytest.raises(LeaseLostError):
            _publish_version(df, vdir, keep=2, lease=lease)
        assert not os.path.exists(os.path.join(vdir, "_CURRENT"))
    os.unlink(os.path.join(vdir, "_LOCK"))


# --------------------------------------------------------------------- SCD2
def _scd2_rows(spark, tmp, name="d"):
    from mgo_liveagent_data_pipeline_spark.sinks.writers import table_path

    return sorted(
        (
            (r["id"], r["v"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
            for r in spark.read.parquet(table_path(tmp, name)).collect()
        ),
        key=repr,
    )


T1, T2 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"


def test_scd2_closes_changed_and_inserts_new(spark, tmp_path):
    from mgo_liveagent_data_pipeline_spark.sinks.writers import scd2_upsert

    tmp = str(tmp_path)
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    scd2_upsert(spark, b1, tmp, "d", "id", T1)
    # key 1 changes, key 2 unchanged (re-delivered identical), key 3 new
    b2 = spark.createDataFrame([(1, "A"), (2, "b"), (3, "c")], ["id", "v"])
    scd2_upsert(spark, b2, tmp, "d", "id", T2)
    assert _scd2_rows(spark, tmp) == [
        (1, "A", T2, "None", True),   # new current for the changed key
        (1, "a", T1, T2, False),      # closed out at the change instant
        (2, "b", T1, "None", True),   # identical re-delivery: untouched
        (3, "c", T2, "None", True),   # brand-new key
    ]


def test_scd2_idempotent_and_as_of(spark, tmp_path):
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        scd2_as_of,
        scd2_upsert,
        table_path,
    )

    tmp = str(tmp_path)
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    scd2_upsert(spark, b1, tmp, "d", "id", T1)
    b2 = spark.createDataFrame([(1, "A")], ["id", "v"])
    scd2_upsert(spark, b2, tmp, "d", "id", T2)
    once = _scd2_rows(spark, tmp)
    scd2_upsert(spark, b2, tmp, "d", "id", T2)  # same batch, same instant
    assert _scd2_rows(spark, tmp) == once
    tbl = spark.read.parquet(table_path(tmp, "d"))
    # point-in-time views: before the change vs after
    at_t1 = {(r["id"], r["v"]) for r in scd2_as_of(tbl, T1).collect()}
    assert at_t1 == {(1, "a"), (2, "b")}
    at_t2 = {(r["id"], r["v"]) for r in scd2_as_of(tbl, T2).collect()}
    assert at_t2 == {(1, "A"), (2, "b")}


def test_scd2_null_safe_change_detection(spark, tmp_path):
    """NULL→value and value→NULL are real changes; NULL→NULL is not."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import scd2_upsert

    tmp = str(tmp_path)
    b1 = spark.createDataFrame([(1, None), (2, None), (3, "x")], "id int, v string")
    scd2_upsert(spark, b1, tmp, "d", "id", T1)
    b2 = spark.createDataFrame([(1, "now"), (2, None), (3, None)], "id int, v string")
    scd2_upsert(spark, b2, tmp, "d", "id", T2)
    got = _scd2_rows(spark, tmp)
    assert got == [
        (1, "now", T2, "None", True),
        (1, None, T1, T2, False),
        (2, None, T1, "None", True),   # NULL == NULL: no new version
        (3, "x", T1, T2, False),
        (3, None, T2, "None", True),
    ]


def test_partitioned_scd2_equals_flat_and_prunes_buckets(spark, tmp_path):
    """The bucketed SCD2 produces the identical table state as the flat
    one, and a small delta leaves untouched buckets byte-identical."""
    import json as _json

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        _ptable_dir,
        partitioned_scd2_upsert,
        read_partitioned,
        scd2_upsert,
        table_path,
    )

    tmp = str(tmp_path)
    base = spark.range(0, 400).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    delta = spark.createDataFrame([(7, "CH"), (123, "CH"), (9999, "NEW")], ["id", "v"])

    scd2_upsert(spark, base, tmp, "flat", "id", T1)
    scd2_upsert(spark, delta, tmp, "flat", "id", T2)
    want = sorted(map(tuple, spark.read.parquet(table_path(tmp, "flat")).collect()))

    partitioned_scd2_upsert(spark, base, tmp, "pt", "id", T1, num_buckets=16)
    pdir = _ptable_dir(tmp, "pt")
    with open(os.path.join(pdir, "_MANIFEST")) as f:
        man_before = _json.load(f)
    inv_before = _file_inventory(pdir)

    partitioned_scd2_upsert(spark, delta, tmp, "pt", "id", T2)
    partitioned_scd2_upsert(spark, delta, tmp, "pt", "id", T2)  # idempotent
    got = sorted(map(tuple, read_partitioned(spark, tmp, "pt").collect()))
    assert got == want

    with open(os.path.join(pdir, "_MANIFEST")) as f:
        man_after = _json.load(f)
    changed = {
        b for b in man_after["buckets"]
        if man_after["buckets"][b] != man_before["buckets"].get(b)
    }
    unchanged = set(man_before["buckets"]) - changed
    assert changed and unchanged and len(changed) <= 3
    inv_after = _file_inventory(pdir)
    for b in unchanged:
        d = man_before["buckets"][b]
        before = {k: v for k, v in inv_before.items() if k.startswith(d + os.sep)}
        after = {k: v for k, v in inv_after.items() if k.startswith(d + os.sep)}
        assert before == after, f"bucket {b} files changed: {d}"


# ------------------------------------------------- date-partitioned sinks
def test_replace_partitions_idempotent_batch_reload(spark, tmp_path):
    """Re-running a batch replaces exactly its partitions; other
    partitions' files stay byte-identical; time predicates prune
    partition directories (PartitionFilters)."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        replace_partitions,
        table_path,
    )

    tmp = str(tmp_path)
    full = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0),
         ("2024-01-02", 3, 30.0), ("2024-01-03", 4, 40.0)],
        ["d", "id", "value"],
    )
    replace_partitions(full, tmp, "ev", "d")
    path = table_path(tmp, "ev")
    inv_before = _file_inventory(path)

    # re-extract the Jan-2 window: one row revised, one new row
    batch = spark.createDataFrame(
        [("2024-01-02", 3, 99.0), ("2024-01-02", 5, 50.0)], ["d", "id", "value"]
    )
    replace_partitions(batch, tmp, "ev", "d")
    replace_partitions(batch, tmp, "ev", "d")  # idempotent re-run

    # partition discovery infers d as a DateType partition column
    got = {(str(r["d"]), r["id"], r["value"])
           for r in spark.read.parquet(path).collect()}
    assert got == {("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0),
                   ("2024-01-02", 3, 99.0), ("2024-01-02", 5, 50.0),
                   ("2024-01-03", 4, 40.0)}

    inv_after = _file_inventory(path)
    untouched = {k: v for k, v in inv_before.items() if "d=2024-01-02" not in k}
    assert untouched == {
        k: v for k, v in inv_after.items()
        if "d=2024-01-02" not in k and k in inv_before
    }

    # partition pruning: a date predicate reads only that directory's files
    # (input_file_name() reflects the post-pruning scan, unlike inputFiles())
    pruned = spark.read.parquet(path).where(F.col("d") == "2024-01-03")
    read_files = [
        r["f"] for r in pruned.select(F.input_file_name().alias("f"))
        .distinct().collect()
    ]
    assert read_files and all("d=2024-01-03" in f for f in read_files)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan


def test_append_partitioned_by_accumulates(spark, tmp_path):
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        append_partitioned_by,
        table_path,
    )

    tmp = str(tmp_path)
    b = spark.createDataFrame([("2024-01-01", 1)], ["d", "id"])
    append_partitioned_by(b, tmp, "ev", "d")
    append_partitioned_by(b, tmp, "ev", "d")
    assert spark.read.parquet(table_path(tmp, "ev")).count() == 2


# ------------------------------------------------------------------ z-order
def _file_col_ranges(path, col):
    """Per-file (min, max) of ``col`` from the written parquet footers."""
    import pyarrow.parquet as pq

    ranges = []
    for f in os.listdir(path):
        if not f.endswith(".parquet") or f.startswith((".", "_")):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                cm = md.row_group(rg).column(ci)
                if cm.path_in_schema == col and cm.statistics is not None:
                    mins.append(cm.statistics.min)
                    maxs.append(cm.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    return ranges


def _overlap_fraction(ranges, lo, hi):
    hit = sum(1 for mn, mx in ranges if mx >= lo and mn <= hi)
    return hit / len(ranges)


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Footer-stats evidence for the z-order claim: files of a linear
    x-sorted layout all overlap any y predicate, while z-ordered files
    are hyper-rectangles that prune on BOTH x and y."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        table_path,
        zorder_write,
    )

    tmp = str(tmp_path)
    n = 40000
    df = spark.range(n).select(
        (F.col("id") % 200).alias("x"),
        # xxhash64 is deterministic and independent of x's id%200 cycle
        F.pmod(F.xxhash64(F.col("id")), F.lit(200)).alias("y"),
        F.col("id").alias("payload"),
    )
    # linear baseline: range-partitioned + sorted on x only
    (
        df.repartitionByRange(16, F.col("x"))
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(table_path(tmp, "linear"))
    )
    zorder_write(spark, df, tmp, "zed", ["x", "y"], num_files=16)

    lin, zed = table_path(tmp, "linear"), table_path(tmp, "zed")
    assert spark.read.parquet(zed).count() == n
    # same rows either way
    assert (
        spark.read.parquet(zed).agg(F.sum("payload")).collect()[0][0]
        == spark.read.parquet(lin).agg(F.sum("payload")).collect()[0][0]
    )

    # y-only box: linear layout can't prune at all, z-order prunes hard
    lin_y = _overlap_fraction(_file_col_ranges(lin, "y"), 0, 24)
    zed_y = _overlap_fraction(_file_col_ranges(zed, "y"), 0, 24)
    assert lin_y >= 0.9, f"x-sorted files should all span y: {lin_y}"
    assert zed_y <= 0.5, f"z-order should prune most files on y: {zed_y}"

    # x box: both layouts prune
    lin_x = _overlap_fraction(_file_col_ranges(lin, "x"), 0, 24)
    zed_x = _overlap_fraction(_file_col_ranges(zed, "x"), 0, 24)
    assert lin_x <= 0.5 and zed_x <= 0.5, (lin_x, zed_x)


def test_zorder_write_handles_constant_and_null_columns(spark, tmp_path):
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        table_path,
        zorder_write,
    )

    tmp = str(tmp_path)
    df = spark.createDataFrame(
        [(1, 5, None), (2, 5, 1.0), (3, 5, 2.0)], "a int, c int, v double"
    )
    zorder_write(spark, df, tmp, "z", ["c", "v"], num_files=2)
    got = sorted(r["a"] for r in spark.read.parquet(table_path(tmp, "z")).collect())
    assert got == [1, 2, 3]


# --------------------------------------------------------------- compaction
def test_compact_append_sink(spark, tmp_path):
    from mgo_liveagent_data_pipeline_spark.sinks.writers import compact

    tmp = str(tmp_path)
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]).repartition(2)
    for _ in range(6):
        append(df, tmp, "t")
    path = table_path(tmp, "t")
    n_before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_before >= 12
    # under threshold: no-op
    assert compact(spark, tmp, "t", max_files=100) == n_before
    # over threshold: rewritten into target_files
    n_after = compact(spark, tmp, "t", max_files=5, target_files=2)
    assert n_after <= 2
    assert read(spark, tmp).count() == 12
    got = read(spark, tmp).groupBy("id").count().collect()
    assert {(r["id"], r["count"]) for r in got} == {(1, 6), (2, 6)}


def test_read_partitioned_for_keys_prunes_buckets(spark, tmp_path):
    """A point lookup scans only the buckets that can contain its keys —
    asserted by inputFiles(), not just results."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        partitioned_upsert,
        read_partitioned,
        read_partitioned_for_keys,
    )

    tmp = str(tmp_path)
    base = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    )
    partitioned_upsert(spark, base, tmp, "pt", "id", num_buckets=16)
    probe = spark.createDataFrame([(7,), (123,)], ["id"])
    got = read_partitioned_for_keys(spark, tmp, "pt", probe, "id")
    assert sorted(map(tuple, got.collect())) == [(7, 21), (123, 369)]
    n_all = len(read_partitioned(spark, tmp, "pt").inputFiles())
    n_probe = len(got.inputFiles())
    assert n_all == 16          # one file per bucket
    assert 1 <= n_probe <= 2    # ≤ one bucket per probed key
    # keys absent from the table (even absent buckets) return empty
    missing = spark.createDataFrame([(10**9,)], ["id"])
    assert read_partitioned_for_keys(spark, tmp, "pt", missing, "id").count() == 0


def test_partitioned_upsert_concurrent_writers(spark, tmp_path):
    """Two writers upserting DISJOINT key ranges concurrently: the writer
    lease serializes read-merge-publish, the manifest flip is atomic, and
    neither delta is lost."""
    import threading

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        partitioned_upsert,
        read_partitioned,
    )

    tmp = str(tmp_path)
    base = spark.createDataFrame([(0, "base")], ["id", "v"])
    partitioned_upsert(spark, base, tmp, "pt", "id", num_buckets=8)
    errors: list[Exception] = []

    def writer(lo: int):
        try:
            src = spark.createDataFrame(
                [(lo + i, f"w{lo}") for i in range(5)], ["id", "v"]
            )
            partitioned_upsert(spark, src, tmp, "pt", "id")
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(lo,)) for lo in (100, 200)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    rows = {r["id"]: r["v"] for r in read_partitioned(spark, tmp, "pt").collect()}
    assert rows[0] == "base"
    assert all(rows[100 + i] == "w100" for i in range(5))
    assert all(rows[200 + i] == "w200" for i in range(5))


def test_apply_cdc_latest_wins_and_tombstones(spark):
    from pyspark.sql import functions as F

    from mgo_liveagent_data_pipeline_spark.sinks.writers import apply_cdc

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["k", "s", "p"],
    )
    changes = spark.createDataFrame(
        [
            # key 1: update then delete -> delete wins
            (1, "a2", 11.0, 1, "U"),
            (1, "a2", 11.0, 2, "D"),
            # key 2: delete then a LATER re-insert -> row comes back
            (2, "b2", 21.0, 2, "I"),
            (2, "b", 20.0, 1, "D"),
            # key 9: pure insert of a new key
            (9, "z", 90.0, 1, "I"),
        ],
        ["k", "s", "p", "seq", "op"],
    )
    out = {r["k"]: (r["s"], r["p"])
           for r in apply_cdc(target, changes, ["k"], "seq", "op").collect()}
    assert out == {
        2: ("b2", 21.0),   # re-insert after delete
        3: ("c", 30.0),    # untouched
        9: ("z", 90.0),    # new key
    }
    # key 1 deleted; applying the SAME feed again is idempotent
    again = apply_cdc(
        spark.createDataFrame(
            [(k, s, p) for k, (s, p) in out.items()], ["k", "s", "p"]
        ),
        changes, ["k"], "seq", "op",
    ).collect()
    assert {r["k"]: (r["s"], r["p"]) for r in again} == out


def test_apply_cdc_null_op_is_upsert_not_silent_delete(spark):
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from mgo_liveagent_data_pipeline_spark.sinks.writers import apply_cdc

    target = spark.createDataFrame(
        [(5, "old", 50.0)], ["k", "s", "p"]
    )
    schema = StructType([
        StructField("k", LongType()),
        StructField("s", StringType()),
        StructField("p", DoubleType()),
        StructField("seq", LongType()),
        StructField("op", StringType()),
    ])
    # malformed feed row: NULL op wins the key — must apply as an
    # upsert, not vanish the key like a tombstone
    changes = spark.createDataFrame([(5, "new", 55.0, 9, None)], schema)
    out = {r["k"]: (r["s"], r["p"])
           for r in apply_cdc(target, changes, ["k"], "seq", "op").collect()}
    assert out == {5: ("new", 55.0)}


def test_scd2_apply_cdc_tombstone_closes_interval(spark, tmp_path):
    """CDC→SCD2 composition: update winners close+reopen, a delete
    tombstone closes the open interval with no replacement row, and a
    key with U then D applies only the higher-seq tombstone."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        read_partitioned,
        scd2_apply_cdc,
    )

    base = str(tmp_path)
    init = spark.createDataFrame(
        [(1, "a", 1, "I"), (2, "b", 1, "I"), (3, "c", 1, "I")],
        ["k", "v", "seq", "op"],
    )
    scd2_apply_cdc(
        spark, init, base, "dim", "k", "seq", "op",
        "2024-01-01 00:00:00", num_buckets=4,
    )
    feed = spark.createDataFrame(
        [
            (1, "a2", 1, "U"),   # plain update: close + reopen
            (2, "b2", 1, "U"),   # update then delete: D wins
            (2, "b", 2, "D"),
            (3, "c", 2, "D"),    # plain delete: close only
        ],
        ["k", "v", "seq", "op"],
    )
    scd2_apply_cdc(
        spark, feed, base, "dim", "k", "seq", "op", "2024-06-01 00:00:00"
    )
    rows = read_partitioned(spark, base, "dim").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(
            (r["v"], r["is_current"], r["valid_to"] is None)
        )
    # key 1: closed 'a' + current 'a2'
    assert sorted(by_key[1]) == [("a", False, False), ("a2", True, True)]
    # key 2: only the closed 'b' row — the U never applied
    assert by_key[2] == [("b", False, False)]
    # key 3: closed, no current
    assert by_key[3] == [("c", False, False)]


def test_scd2_apply_cdc_reinsert_after_delete(spark, tmp_path):
    """A key deleted by a tombstone and re-inserted by a later feed gets
    a NEW open interval after the closed one — the full dimension
    lifecycle (born → deleted → reborn) in three feeds."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        read_partitioned,
        scd2_apply_cdc,
    )

    base = str(tmp_path)
    t = ["2024-01-01 00:00:00", "2024-02-01 00:00:00", "2024-03-01 00:00:00"]
    feeds = [
        [(1, "a", 1, "I")],
        [(1, "a", 1, "D")],
        [(1, "a3", 1, "I")],
    ]
    for ts, feed in zip(t, feeds):
        scd2_apply_cdc(
            spark,
            spark.createDataFrame(feed, ["k", "v", "seq", "op"]),
            base, "dim", "k", "seq", "op", ts, num_buckets=2,
        )
    rows = sorted(
        (r["v"], r["is_current"],
         r["valid_from"].strftime("%Y-%m-%d"),
         r["valid_to"].strftime("%Y-%m-%d") if r["valid_to"] else None)
        for r in read_partitioned(spark, base, "dim").collect()
    )
    assert rows == [
        ("a", False, "2024-01-01", "2024-02-01"),   # closed by tombstone
        ("a3", True, "2024-03-01", None),            # reborn, open
    ]


def test_compaction_lease_contention_kill_replay(spark, tmp_path):
    """N appenders and a compactor contend for one table lease while a
    KILLED writer's stale lock sits on the table (heartbeat stopped, lock
    left behind — the crash the TTL exists for). Requirements proven:
    exactly one winner per lease epoch (no two held intervals overlap,
    including across the stale break), the killed writer's batch is
    re-run by its restart and lands exactly once, and no batch is lost
    through the concurrent compaction rewrites."""
    import threading
    import time

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        WriterLease,
        append,
        compact,
        ensure_table,
        table_lease,
        table_path,
    )

    base = str(tmp_path)
    name = "facts"
    ensure_table(
        spark, base, name, spark.createDataFrame([], "k long, writer long")
    )

    # the doomed writer: takes the lease, then "dies" — heartbeat stopped,
    # lock file abandoned BEFORE its batch write (worst case: lease held,
    # nothing written, restart must replay the whole batch)
    dead = table_lease(base, name, ttl=0.4)
    dead.__enter__()
    dead._stop.set()
    dead._hb.join(timeout=1.0)

    held: list[tuple[float, float, int]] = []
    held_lock = threading.Lock()
    errors: list[Exception] = []

    def appender(writer_id: int) -> None:
        try:
            df = spark.createDataFrame(
                [(writer_id * 100 + j, writer_id) for j in range(5)],
                ["k", "writer"],
            )
            with table_lease(base, name, ttl=0.4):
                t0 = time.monotonic()
                append(df, base, name)
                t1 = time.monotonic()
            with held_lock:
                held.append((t0, t1, writer_id))
        except Exception as e:  # surfaced below — a thread must not die silently
            errors.append(e)

    def compactor() -> None:
        try:
            for _ in range(3):
                # lease_ttl must match the appenders' TTL: staleness is
                # judged by each contender's own ttl, so a mismatched
                # long-TTL compactor (heartbeat every ttl/4) looks stale
                # to 0.4s-TTL appenders and loses its live lease mid-swap
                compact(
                    spark, base, name, max_files=2, target_files=1,
                    lease_ttl=0.4,
                )
                time.sleep(0.05)
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(4)]
    threads.append(threading.Thread(target=compactor))
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    # kill-replay: the dead writer's restart re-runs its batch (id 9)
    appender(9)
    assert not errors, errors

    # the stale lock was genuinely broken and never resurrected
    assert not dead.owns()
    # exactly one winner per lease epoch: held intervals never overlap
    spans = sorted(held)
    for (a0, a1, wa), (b0, b1, wb) in zip(spans, spans[1:]):
        assert a1 <= b0, f"lease held concurrently by {wa} and {wb}"
    # no lost batches, no duplicated replay, through compaction rewrites
    rows = spark.read.parquet(table_path(base, name)).collect()
    want = {(i * 100 + j, i) for i in (0, 1, 2, 3, 9) for j in range(5)}
    assert {(r["k"], r["writer"]) for r in rows} == want
    assert len(rows) == len(want)


def test_partitioned_merge_replays_over_orphan_version_dir(spark, tmp_path):
    """Crash window between a bucket-dir rename and the manifest flip:
    the renamed b{b}_v{v} dir exists on disk while the committed
    manifest still names v-1. The replay computes the same dest — it
    must remove the uncommitted orphan and rename cleanly (round-10
    raised ENOTEMPTY here), and the committed content equals the merge
    result."""
    import os

    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        _read_manifest,
        partitioned_upsert,
        read_partitioned,
    )

    base = str(tmp_path)
    df0 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    pdir = partitioned_upsert(spark, df0, base, "t", "k", num_buckets=4)
    man = _read_manifest(pdir)
    # fabricate the orphan: for one live bucket, create the NEXT
    # version dir with junk content (as a crashed attempt would leave)
    b, cur = next(iter(man["buckets"].items()))
    v = int(cur.rsplit("_v", 1)[1]) + 1
    orphan = os.path.join(pdir, f"b{b}_v{v}")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "leftover"), "w") as f:
        f.write("junk from the crashed attempt")

    # the replay: same keys, updated values — must not ENOTEMPTY
    df1 = spark.createDataFrame([(1, "a2"), (2, "b2")], ["k", "v"])
    partitioned_upsert(spark, df1, base, "t", "k", num_buckets=4)
    got = {
        (r["k"], r["v"]) for r in read_partitioned(spark, base, "t").collect()
    }
    assert got == {(1, "a2"), (2, "b2")}
    # the committed manifest names the new versions and the junk file
    # is gone from every referenced dir
    man2 = _read_manifest(pdir)
    for d in man2["buckets"].values():
        assert "leftover" not in os.listdir(os.path.join(pdir, d))


def test_ensure_partitioned_empty_manifest_roundtrip(spark, tmp_path):
    """ensure_partitioned seeds an empty committed manifest whose
    schema read_partitioned honors (empty DataFrame, right columns);
    a later merge stamps the schema and an existing manifest is left
    untouched by re-ensure."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        _read_manifest,
        ensure_partitioned,
        partitioned_upsert,
        read_partitioned,
    )

    base = str(tmp_path)
    template = spark.createDataFrame([], "k long, v string")
    pdir = ensure_partitioned(spark, base, "t", template, num_buckets=4)
    empty = read_partitioned(spark, base, "t")
    assert empty.count() == 0 and empty.columns == ["k", "v"]

    partitioned_upsert(
        spark, spark.createDataFrame([(1, "a")], ["k", "v"]),
        base, "t", "k", num_buckets=4,
    )
    # re-ensure is a no-op on the live table
    ensure_partitioned(spark, base, "t", template, num_buckets=4)
    assert {r["k"] for r in read_partitioned(spark, base, "t").collect()} == {1}
    assert _read_manifest(pdir).get("schema") is not None


def test_partitioned_upsert_bucket_col_colocation(spark, tmp_path):
    """Secondary-index co-location: rows PLACED by bucket_col, deduped
    by the merge key. A probe by the bucket column prunes to its
    buckets and returns every row sharing that value; re-upserting the
    same keys replaces in place (the functional-dependence contract —
    the key embeds the bucket value — keeps both copies in one bucket);
    and a later merge that omits bucket_col still uses the manifest's
    recorded value."""
    from mgo_liveagent_data_pipeline_spark.sinks.writers import (
        _ptable_dir,
        _read_manifest,
        partitioned_upsert,
        read_partitioned,
        read_partitioned_for_keys,
    )

    base = str(tmp_path)
    rows = spark.createDataFrame(
        [("b1", 1, "b1:1"), ("b1", 2, "b1:2"), ("b2", 3, "b2:3")],
        ["bk", "rec", "ikey"],
    )
    partitioned_upsert(
        spark, rows, base, "idx", "ikey", num_buckets=8, bucket_col="bk"
    )
    man = _read_manifest(_ptable_dir(base, "idx"))
    assert man["bucket_col"] == "bk"
    # probe by the BUCKET column: both b1 rows come back, b2's don't
    got = read_partitioned_for_keys(
        spark, base, "idx",
        spark.createDataFrame([("b1",)], ["bk"]), "bk",
    )
    assert {(r["bk"], r["rec"]) for r in got.collect()} == {("b1", 1), ("b1", 2)}
    # rows sharing a bucket value land in ONE bucket dir (co-location)
    b1_rows = rows.where("bk = 'b1'").count()
    assert b1_rows == 2
    # merge WITHOUT bucket_col: manifest's recorded value wins — the
    # replaced key stays in its bucket, no duplicate appears
    upd = spark.createDataFrame([("b1", 99, "b1:1")], ["bk", "rec", "ikey"])
    partitioned_upsert(spark, upd, base, "idx", "ikey", num_buckets=8)
    final = {(r["ikey"], r["rec"])
             for r in read_partitioned(spark, base, "idx").collect()}
    assert final == {("b1:1", 99), ("b1:2", 2), ("b2:3", 3)}
