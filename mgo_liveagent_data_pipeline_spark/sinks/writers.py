"""Sink operators — the reference's BigQuery load path re-expressed as
parquet-table writes (K1-K6).

Reference counterparts:
* K1 ensure dataset/table (core/BigQueryManager.py:22-45)
* K2 append / overwrite load with write disposition
  (core/BigQueryManager.py:47-70)
* K4 staged MERGE upsert: load staging → MERGE on key → drop staging
  (core/extract/helpers/extractor_bq_helpers.py:40-185)
* K5 history append before merge (extractor_bq_helpers.py:83-108)
* K6 orchestrated prepare-and-load (extractor_bq_helpers.py:13-38)

Tables are parquet directories (swap for Delta in production — ``upsert``
becomes ``MERGE INTO`` and the read-modify-write below collapses to a
transactional command; the call-sites don't change).

Scale notes baked in:
* each merge flavour is ONE pure ``(target | None, source) -> DataFrame``
  function (``merge_rows``, ``delete_rows``, ``scd2_rows``) that every
  layout applies; layouts differ only in how they read and publish. The
  K4 merge is anti-join + unionByName; the anti-join shuffles only the
  key column of the target thanks to column pruning.
* ``partitioned_upsert`` is the 100 TB MERGE: a manifest-bucketed table
  where an upsert reads and rewrites ONLY the key-hash buckets containing
  source keys — O(|delta| + |affected buckets|) I/O, matching the
  reference's matched-rows-only BigQuery MERGE, where ``upsert`` /
  ``versioned_upsert`` rewrite the whole table (kept as the small-table /
  simple-layout paths).
* flat writes go to a temp sibling directory then a two-rename swap — a
  re-run that dies mid-write never *loses committed data* (every writer
  restores the ``.old`` copy an interrupted swap left before it reads or
  swaps; see ``_atomic_overwrite`` for the exact non-atomicity window).
  The reference gets the stronger transactional guarantee from BigQuery
  staging tables; swap in Delta for the same here.
"""
from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import tempfile
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import local_table


def table_path(base_dir: str, name: str) -> str:
    return os.path.join(base_dir, f"{name}.parquet")


def ensure_table(
    spark: SparkSession, base_dir: str, name: str, template: DataFrame
) -> str:
    """K1: create-if-absent — an empty parquet table with the template's
    schema (CREATE TABLE IF NOT EXISTS)."""
    path = table_path(base_dir, name)
    if not os.path.exists(path):
        os.makedirs(base_dir, exist_ok=True)
        template.limit(0).write.mode("overwrite").parquet(path)
    return path


def _restore_swap(path: str) -> bool:
    """Undo an interrupted ``_atomic_overwrite`` swap: if ``path`` is gone
    but ``.old`` survives, the previous run died between its two renames
    and ``.old`` holds the committed table, so it is renamed back.
    Returns whether the table exists."""
    old = path + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    return os.path.exists(path)


# the key under which Spark stores a table's own schema in every part
# file's footer; Spark's schema inference reads the same key
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_flat(spark: SparkSession, path: str) -> DataFrame:
    """Read a flat parquet table with the schema Spark stored in a part
    file's footer. Inference reads that same footer key, so the two
    schemas agree, but inference costs a one-task Spark job per read and
    this costs one footer read on the driver. A table whose footer lacks
    the key (another engine wrote it) or that has no top-level part file
    is read with inference."""
    import pyarrow.parquet as pq

    from pyspark.sql.types import StructType

    # glob skips dot-files; Spark also skips names starting with "_"
    parts = sorted(glob.glob(os.path.join(glob.escape(path), "[!_]*.parquet")))
    stored = None
    if parts:
        stored = (pq.read_schema(parts[0]).metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is None:
        return spark.read.parquet(path)
    return spark.read.schema(StructType.fromJson(json.loads(stored))).parquet(path)


def _current_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The flat table's committed rows (an interrupted swap restored
    first), or ``None`` if it was never written. Every read-before-replace
    writer reads through it, so a crash inside a swap window never makes
    a writer take the table for absent and replace it with its batch."""
    return read_flat(spark, path) if _restore_swap(path) else None


def _atomic_overwrite(df: DataFrame, path: str) -> None:
    """Write to a temp sibling, then swap via two renames.

    NOT truly atomic: between ``rename(path, .old)`` and
    ``rename(staged, path)`` the table path briefly does not exist, so a
    crash in that window (or a concurrent lister) can see a missing
    table. No committed data is lost: a surviving ``.old`` is restored
    before this swap and before every writer's read (``_current_table``)
    — the guarantee is durability, not an atomic swap. ``df`` may read
    ``path``: the staging write runs before the swap. True atomicity
    needs a versioned directory + pointer-file scheme or a transactional
    format (the documented Delta swap); single-directory parquet keeps
    the driver-checkable layout.
    """
    parent = os.path.dirname(path) or "."
    os.makedirs(parent, exist_ok=True)
    old = path + ".old"
    _restore_swap(path)
    tmp = tempfile.mkdtemp(dir=parent, prefix=".staging_")
    staged = os.path.join(tmp, "data")
    try:
        df.write.mode("overwrite").parquet(staged)
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(staged, path)
        if os.path.exists(old):
            shutil.rmtree(old)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def append(df: DataFrame, base_dir: str, name: str) -> str:
    """K2 WRITE_APPEND."""
    path = table_path(base_dir, name)
    df.write.mode("append").parquet(path)
    return path


def overwrite(df: DataFrame, base_dir: str, name: str) -> str:
    """K2 WRITE_TRUNCATE."""
    path = table_path(base_dir, name)
    _atomic_overwrite(df, path)
    return path


def merge_rows(target: DataFrame | None, source: DataFrame, key: str) -> DataFrame:
    """K4 MERGE algebra: target rows whose key appears in ``source`` are
    replaced, new source keys are inserted (``MERGE INTO t USING s ON
    t.key=s.key WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    INSERT *``). An absent target is the source itself. Idempotent."""
    if target is None:
        return source
    return target.join(
        source.select(key).distinct(), on=key, how="left_anti"
    ).unionByName(source)


def delete_rows(target: DataFrame, keys: DataFrame, key: str) -> DataFrame:
    """MERGE ... WHEN MATCHED THEN DELETE algebra: ``target`` minus the
    rows whose key appears in ``keys``. Idempotent. Writers skip absent
    targets: there is nothing to delete."""
    return target.join(keys.select(key).distinct(), on=key, how="left_anti")


def upsert(
    spark: SparkSession,
    source: DataFrame,
    base_dir: str,
    name: str,
    key: str,
) -> str:
    """K4: staged MERGE upsert — ``merge_rows`` of the current table
    (``_current_table``) and ``source``, published by the atomic-overwrite
    swap. With Delta this whole function is one ``MERGE INTO``."""
    path = table_path(base_dir, name)
    _atomic_overwrite(merge_rows(_current_table(spark, path), source, key), path)
    return path


def delete_keys(
    spark: SparkSession,
    keys: DataFrame,
    base_dir: str,
    name: str,
    key: str,
) -> str:
    """MERGE ... WHEN MATCHED THEN DELETE: ``delete_rows`` of the current
    table and ``keys``, same staged-overwrite mechanics as ``upsert`` —
    with Delta this is the DELETE leg of the same MERGE statement. An
    absent target is a no-op (nothing to delete on a table's first
    batch); a table left mid-swap by a crashed ``_atomic_overwrite`` is
    restored by ``_current_table`` first, so a crash window never
    silently skips a delete.

    Rewrites the whole table — fine at dimension scale; a 10⁹-row table
    wants ``partitioned_delete_keys`` (bucket-pruned I/O) instead."""
    path = table_path(base_dir, name)
    target = _current_table(spark, path)
    if target is not None:
        _atomic_overwrite(delete_rows(target, keys, key), path)
    return path


def history_append(
    spark: SparkSession, df: DataFrame, base_dir: str, name: str
) -> str:
    """K5: append-only history table ``<name>_history`` written before the
    current-state merge (extractor_bq_helpers.py:83-108). The first append
    creates the table with ``df``'s schema, even when ``df`` is empty."""
    return append(df, base_dir, f"{name}_history")


def _versioned_dir(base_dir: str, name: str) -> str:
    return os.path.join(base_dir, f"{name}.versioned")


# Writer-lease tuning: a lease older than the TTL is presumed abandoned by
# a crashed writer and is broken; contending writers poll at the retry
# interval. The holder heartbeats the lock's mtime at TTL/4, so a live
# writer never goes stale no matter how long its write runs.
_LEASE_TTL_S = 300.0
_LEASE_RETRY_S = 0.05


class LeaseLostError(RuntimeError):
    """The writer's lease was broken (stolen as stale) before its commit
    point — the publish is aborted instead of clobbering the thief's."""


class WriterLease:
    """Exclusive writer lease over a versioned table — an ``O_CREAT|O_EXCL``
    lock file, the cheap single-filesystem stand-in for the transactional
    MERGE the reference gets from BigQuery
    (core/extract/helpers/extractor_bq_helpers.py:159-169).

    A blocked writer retries until the holder releases (or its lease goes
    stale past ``ttl`` — a crashed holder cannot wedge the table forever).
    Readers never take the lease: the pointer-file commit already gives
    them a consistent snapshot. The lease only serializes WRITERS, so
    concurrent ``versioned_upsert`` calls compose: each one reads the
    version the previous commit published, and no version number or pointer
    flip is ever raced.

    Correctness hardening against the stat/unlink race:

    * The lock carries a UNIQUE TOKEN (pid + uuid), not just a pid.
    * ``__exit__`` unlinks only if the lock still holds OUR token — it can
      never delete a successor's live lease.
    * Stale leases are broken by an atomic ``rename`` to a contender-unique
      name first: exactly one contender wins the rename, and the doomed
      file's mtime is re-verified AFTER the rename — if a live holder
      refreshed it in the stat→rename window, the lock is renamed back
      instead of deleted.
    * The holder runs a daemon heartbeat touching the lock's mtime every
      ``ttl/4``, so a legitimate write longer than the TTL keeps its lease.
    * Committers call ``owns()`` immediately before their pointer flip and
      raise ``LeaseLostError`` instead of publishing if the lease was
      stolen — the one anomaly the heartbeat can't rule out (a stop-the-
      world pause longer than the TTL) aborts instead of losing an update.
    """

    def __init__(self, vdir: str, ttl: float = _LEASE_TTL_S):
        self.path = os.path.join(vdir, "_LOCK")
        self.ttl = ttl
        self.token = f"{os.getpid()}-{uuid.uuid4().hex}"
        self._stop = threading.Event()
        self._hb: threading.Thread | None = None

    def _read_token(self, path: str) -> str | None:
        try:
            with open(path) as f:
                return f.read()
        except OSError:
            return None

    def owns(self) -> bool:
        """True iff the lock file still carries this lease's token."""
        return self._read_token(self.path) == self.token

    def _heartbeat(self) -> None:
        while not self._stop.wait(self.ttl / 4):
            try:
                if self.owns():
                    os.utime(self.path)
            except OSError:
                pass

    def _break_stale(self) -> None:
        # rename-then-verify-then-delete: the rename is atomic, so exactly
        # one contender owns the doomed name; a lock refreshed between our
        # stat and the rename belongs to a LIVE holder and is restored.
        doomed = f"{self.path}.stale-{self.token}"
        try:
            os.rename(self.path, doomed)
        except OSError:
            return  # another contender won the break, or holder released
        try:
            if time.time() - os.stat(doomed).st_mtime > self.ttl:
                os.unlink(doomed)
            else:
                os.rename(doomed, self.path)
        except OSError:
            pass

    def __enter__(self) -> "WriterLease":
        while True:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, self.token.encode())
                os.close(fd)
                self._stop.clear()
                self._hb = threading.Thread(target=self._heartbeat, daemon=True)
                self._hb.start()
                return self
            except FileExistsError:
                try:
                    stale = time.time() - os.stat(self.path).st_mtime > self.ttl
                except FileNotFoundError:
                    continue  # holder released between open and stat
                if stale:
                    self._break_stale()
                    continue
                time.sleep(_LEASE_RETRY_S)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._hb is not None:
            self._hb.join(timeout=1.0)
        try:
            if self.owns():
                os.unlink(self.path)
        except OSError:
            pass


def _allocate_version(vdir: str) -> tuple[int, list[int]]:
    """Claim the next version directory with ``os.mkdir`` (EEXIST-retry),
    so even a writer that bypasses the lease can never share a version
    directory with another writer."""
    while True:
        existing = sorted(
            int(d[2:]) for d in os.listdir(vdir)
            if d.startswith("v_") and d[2:].isdigit()
        )
        new_v = (existing[-1] + 1) if existing else 1
        try:
            os.mkdir(os.path.join(vdir, f"v_{new_v}"))
            return new_v, existing
        except FileExistsError:
            continue


def _logged_versions(vdir: str) -> set[int]:
    """Versions recorded in the ``_HISTORY`` log."""
    hist = os.path.join(vdir, "_HISTORY")
    if not os.path.exists(hist):
        return set()
    with open(hist) as f:
        # a crash mid-append can leave a torn tail line ("v_" or "v_1"
        # truncated mid-digit); skip anything non-numeric instead of
        # raising, the same degrade-to-absent rule _read_pointer applies
        return {
            int(line.strip()[2:])
            for line in f
            if line.strip().startswith("v_") and line.strip()[2:].isdigit()
        }


def _read_pointer(vdir: str) -> int | None:
    """Parse ``_CURRENT``; None if absent or torn (a crash can leave the
    pointer zero-length — rename-without-fsync — and a torn pointer must
    degrade to 'no current', not an unhandled ValueError that wedges
    every subsequent publish)."""
    pointer = os.path.join(vdir, "_CURRENT")
    if not os.path.exists(pointer):
        return None
    with open(pointer) as f:
        raw = f.read().strip()
    if raw.startswith("v_") and raw[2:].isdigit():
        return int(raw[2:])
    return None


def _committed_versions(vdir: str) -> set[int]:
    """Versions recorded as committed: the ``_HISTORY`` log plus whatever
    ``_CURRENT`` points at (a crash between pointer flip and history
    append leaves the new version current-but-unlogged; the next publish
    reconciles it)."""
    out = _logged_versions(vdir)
    cur = _read_pointer(vdir)
    if cur is not None:
        out.add(cur)
    return out


def _append_history(vdir: str, v: int) -> None:
    with open(os.path.join(vdir, "_HISTORY"), "a") as f:
        f.write(f"v_{v}\n")
        f.flush()
        os.fsync(f.fileno())  # unfsynced appends can tear on crash; the
        # reader skips torn lines, but fsync keeps committed versions
        # from silently vanishing from time travel after power loss


def _publish_version(
    df: DataFrame, vdir: str, keep: int, lease: "WriterLease | None" = None
) -> str:
    """Write a new version and flip the pointer. Caller holds the lease;
    passing it enables the pre-flip ownership check (``LeaseLostError``
    instead of a lost update if the lease was stolen mid-write)."""
    # reconcile: a prior publisher may have crashed after its pointer
    # flip but before logging history — adopt the current version into
    # the log so time travel keeps seeing it once we supersede it
    cur = _read_pointer(vdir)
    if cur is not None and cur not in _logged_versions(vdir):
        _append_history(vdir, cur)
    new_v, existing = _allocate_version(vdir)
    vpath = os.path.join(vdir, f"v_{new_v}")
    df.write.mode("overwrite").parquet(vpath)
    pointer = os.path.join(vdir, "_CURRENT")
    tmp = pointer + ".tmp"
    with open(tmp, "w") as f:
        f.write(f"v_{new_v}")
        f.flush()
        os.fsync(f.fileno())  # a torn pointer after os.replace is a
        # corrupt table for readers; fsync-before-rename closes it
    if lease is not None and not lease.owns():
        os.unlink(tmp)
        shutil.rmtree(vpath, ignore_errors=True)
        raise LeaseLostError(
            f"lease on {vdir} lost before pointer flip; aborting publish"
        )
    os.replace(tmp, pointer)  # the atomic commit
    _append_history(vdir, new_v)
    # prune COMMITTED versions older than the kept window (current +
    # keep-1 before) and sweep dead orphans (allocated below new_v but
    # never committed — a crashed writer's leftovers; allocation is
    # lease-serialized so nothing below new_v can still be in flight)
    committed = sorted(_committed_versions(vdir))
    retained = set(committed[max(0, len(committed) - keep):])
    for v in existing:
        if v not in retained:
            shutil.rmtree(os.path.join(vdir, f"v_{v}"), ignore_errors=True)
    hist_tmp = os.path.join(vdir, "_HISTORY.tmp")
    with open(hist_tmp, "w") as f:
        f.writelines(f"v_{v}\n" for v in sorted(retained))
        f.flush()
        os.fsync(f.fileno())  # same fsync-before-rename rule as _CURRENT
    os.replace(hist_tmp, os.path.join(vdir, "_HISTORY"))
    return vpath


def versioned_write(df: DataFrame, base_dir: str, name: str, keep: int = 2) -> str:
    """Truly atomic table publish — the versioned-directory + pointer-file
    scheme ``_atomic_overwrite`` documents as its upgrade path.

    Data lands in ``<table>.versioned/v_<n>/``; the commit is ONE
    ``os.replace`` of the ``_CURRENT`` pointer file (atomic on POSIX), so
    there is no instant at which the table is missing or partial: a
    reader resolves the pointer and sees either the old complete version
    or the new complete one. A crash before the pointer flip leaves an
    orphan version directory (pruned on the next write), never a corrupt
    table. Concurrent writers are serialized by ``WriterLease`` (version
    allocation itself is additionally mkdir-atomic), so two simultaneous
    publishes commit one after the other instead of clobbering a shared
    ``v_n``. This is the single-node skeleton of what Delta/Iceberg do
    with a transaction log; ``keep`` old versions are retained for
    in-flight readers.
    """
    vdir = _versioned_dir(base_dir, name)
    os.makedirs(vdir, exist_ok=True)
    with WriterLease(vdir) as lease:
        return _publish_version(df, vdir, keep, lease)


def list_versions(base_dir: str, name: str) -> list[int]:
    """Readable committed versions, ascending — the time-travel window:
    the ``keep`` retained versions that are both in the commit record
    (``_HISTORY`` ∪ current pointer — an allocated-but-never-committed
    orphan from a crashed writer is NOT history) and still on disk."""
    vdir = _versioned_dir(base_dir, name)
    return sorted(
        v
        for v in _committed_versions(vdir)
        if os.path.isdir(os.path.join(vdir, f"v_{v}"))
    )


def read_versioned(
    spark: SparkSession,
    base_dir: str,
    name: str,
    version: int | None = None,
) -> DataFrame:
    """Read the table — the ``_CURRENT`` pointer by default, or a
    retained older ``version`` (time travel, Delta's ``versionAsOf``):
    audit "what did the table say when the 03:00 job ran", reproduce a
    training run against the exact snapshot it saw, diff two loads with
    ``table_diff``. Raises ``ValueError`` for a version outside the
    retained window (pruned, never committed, or future).

    Caveat (same as any lazy reader of the oldest retained version): the
    window check is eager but the parquet read is lazy, so a publish
    that prunes the requested version between this call and the action
    surfaces as a FileNotFoundException, not this ValueError — size
    ``keep`` to cover the longest in-flight read."""
    vdir = _versioned_dir(base_dir, name)
    if version is None:
        cur = _read_pointer(vdir)
        if cur is None:
            raise ValueError(
                f"no committed current version for {name} (missing or "
                f"torn _CURRENT pointer; republish to heal)"
            )
        return spark.read.parquet(os.path.join(vdir, f"v_{cur}"))
    retained = list_versions(base_dir, name)
    if version not in retained:
        raise ValueError(
            f"version {version} not readable for {name}; retained: {retained}"
        )
    return spark.read.parquet(os.path.join(vdir, f"v_{version}"))


def versioned_upsert(
    spark: SparkSession, source: DataFrame, base_dir: str, name: str, key: str,
    keep: int = 2,
) -> str:
    """K4 MERGE against the versioned table: read current, ``merge_rows``,
    publish as a new version (atomic pointer flip). Same idempotent
    semantics as ``upsert``; readers never observe an intermediate state.

    The WHOLE read-merge-publish runs under the writer lease, so two
    concurrent upserts serialize: the second reads the version the first
    committed and neither's rows are lost (the lost-update anomaly the
    reference avoids via BigQuery's transactional MERGE,
    extractor_bq_helpers.py:159-169).
    """
    vdir = _versioned_dir(base_dir, name)
    os.makedirs(vdir, exist_ok=True)
    with WriterLease(vdir) as lease:
        cur = os.path.exists(os.path.join(vdir, "_CURRENT"))
        target = read_versioned(spark, base_dir, name) if cur else None
        return _publish_version(merge_rows(target, source, key), vdir, keep, lease)


# --------------------------------------------------------------------------
# Partition-pruned MERGE — the K4 scale path.
#
# The plain ``upsert``/``versioned_upsert`` rewrite the WHOLE table per
# batch: O(|table|) I/O for a ≤10k-row delta, four times a day at the
# reference's 6-hour cadence — the one scale-killer-class gap round 4
# flagged. The reference's BigQuery MERGE touches only matched rows
# (core/extract/helpers/extractor_bq_helpers.py:159-169); this scheme gets
# the same O(|delta| + |affected partitions|) bound on plain parquet:
#
#   <table>.ptable/
#     _MANIFEST            {"num_buckets": N, "buckets": {"3": "b3_v2", ...},
#                           "retired": {"3": ["b3_v1"]}}   (atomic os.replace)
#     b3_v2/  b17_v5/ ...  one parquet dir per (bucket, version)
#
# Rows are hash-bucketed by key (pmod(xxhash64(key), N) — deterministic, so
# a key's bucket never moves). An upsert computes the source's affected
# bucket ids (an O(N)-metadata collect, the same move Delta/Iceberg make
# when they list touched files — never row data), reads ONLY those buckets'
# current version dirs, merges, writes all affected buckets in ONE Spark
# job (partitionBy on the bucket id), renames each staged bucket dir to its
# next version, and commits by atomically replacing _MANIFEST. Untouched
# buckets are never read, never rewritten — their files stay byte-identical
# — and readers resolve the manifest so they see either the old complete
# state or the new one (manifest-based partition pruning, the metadata
# pattern Iceberg uses). ``retired`` keeps each bucket's previous version
# for in-flight readers; older versions are pruned after the flip.
# --------------------------------------------------------------------------

_BUCKET_COL = "_pk_bucket"


def _ptable_dir(base_dir: str, name: str) -> str:
    return os.path.join(base_dir, f"{name}.ptable")


def _bucket_expr(key: str, num_buckets: int, range_width: int | None = None):
    # deterministic bucket id — a key's bucket is a permanent address.
    # hash mode (default): pmod(xxhash64(key), N) — uniform spread, ideal
    # for point lookups and small-key-count deltas. range mode: key //
    # width — for MONOTONE integer keys (ticket ids); a recency-skewed
    # delta (the reference's 6-hour window updates mostly-new tickets)
    # lands in the TAIL buckets only, where hash mode would spray the
    # same delta across min(|keys|, N) buckets ≈ the whole table.
    if range_width:
        return F.floor(F.col(key) / F.lit(range_width)).cast("int")
    return F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets)).cast("int")


def _read_manifest(pdir: str) -> dict:
    with open(os.path.join(pdir, "_MANIFEST")) as f:
        return json.load(f)


def ensure_partitioned(
    spark: SparkSession,
    base_dir: str,
    name: str,
    template: DataFrame,
    num_buckets: int = 64,
    range_width: int | None = None,
    bucket_col: str | None = None,
) -> str:
    """K1 for ptables: create-if-absent — an EMPTY committed manifest
    carrying the template's schema, so a destination that never receives
    a batch (every batch quarantined the other way, an empty first
    golden set, …) still reads back as an empty table through
    ``read_partitioned`` instead of raising FileNotFoundError — the
    same guarantee ``ensure_table`` gives flat destinations. A manifest
    already present (any state) is left untouched."""
    pdir = _ptable_dir(base_dir, name)
    os.makedirs(pdir, exist_ok=True)
    manifest_path = os.path.join(pdir, "_MANIFEST")
    if not os.path.exists(manifest_path):
        man = {
            "num_buckets": num_buckets,
            "range_width": range_width,
            "buckets": {},
            "retired": {},
            "bucket_col": bucket_col,
            "schema": template.schema.jsonValue(),
        }
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, manifest_path)
    return pdir


def read_partitioned(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    """Resolve ``_MANIFEST`` and read every bucket's current version dir.
    A key-equality scan would pass only the relevant bucket paths here —
    manifest pruning replaces directory listing at any scale.

    A manifest with NO live buckets (freshly ``ensure_partitioned``-ed,
    or every bucket emptied by deletes) reads back as an empty DataFrame
    with the manifest's recorded schema — the stamp every merge flip
    refreshes."""
    from pyspark.sql.types import StructType

    pdir = _ptable_dir(base_dir, name)
    man = _read_manifest(pdir)
    paths = [os.path.join(pdir, d) for d in man["buckets"].values()]
    if not paths:
        sch = man.get("schema")
        if sch is None:
            raise FileNotFoundError(
                f"ptable {pdir} has no buckets and no recorded schema — "
                "create it with ensure_partitioned"
            )
        return local_table(spark, [], StructType.fromJson(sch))
    return spark.read.parquet(*paths)


def read_partitioned_for_keys(
    spark: SparkSession,
    base_dir: str,
    name: str,
    keys: DataFrame,
    key: str,
) -> DataFrame:
    """Manifest-pruned point lookup: read ONLY the buckets that can contain
    the given keys (same deterministic bucket hash as the writer), then
    semi-join down to exact key matches. For a k-key probe against an
    n-bucket table this scans min(k, n) buckets — at 100 TB with 4k
    buckets, a 100-key lookup reads ~100/4000 of the table instead of all
    of it. The bucket-id collect is O(min(k, n)) ints of metadata, the
    same move the upsert makes."""
    pdir = _ptable_dir(base_dir, name)
    man = _read_manifest(pdir)
    nb = int(man["num_buckets"])
    rw = man.get("range_width")
    wanted = keys.select(F.col(key)).distinct()
    affected = sorted(
        r[0]
        for r in wanted.select(_bucket_expr(key, nb, rw).alias("b"))
        .distinct()
        .collect()
    )
    paths = [
        os.path.join(pdir, man["buckets"][str(b)])
        for b in affected
        if str(b) in man["buckets"]
    ]
    if not paths:
        return read_partitioned(spark, base_dir, name).limit(0)
    return spark.read.parquet(*paths).join(wanted, on=key, how="left_semi")


def _partitioned_merge(
    spark: SparkSession,
    source: DataFrame,
    base_dir: str,
    name: str,
    key: str,
    merge_fn,
    num_buckets: int = 64,
    keep: int = 2,
    shuffle_partitions: int | None = None,
    range_width: int | None = None,
    skip_absent_buckets: bool = False,
    drop_empty_affected: bool = False,
    bucket_col: str | None = None,
) -> str:
    """Shared bucket plumbing for every partition-pruned merge flavor.

    ``merge_fn(target_or_None, source) -> DataFrame`` supplies the merge
    algebra; ``target`` is the current rows of ONLY the affected buckets
    (or ``None`` when every affected bucket is brand new). The plumbing
    computes affected buckets from the source keys (an O(num_buckets)
    metadata collect — the same driver-side step as Delta's touched-file
    listing), reads only those buckets, writes every affected bucket in
    one Spark job, and commits by atomically replacing ``_MANIFEST``.

    Delete-flavored merges set ``skip_absent_buckets`` (a key whose
    bucket does not exist has nothing to delete — don't create it) and
    ``drop_empty_affected`` (an affected bucket whose merge result is
    EMPTY is removed from the manifest instead of silently keeping its
    old dir — without this, a delete that empties a bucket would
    resurrect its rows).

    ``bucket_col`` (secondary-index co-location): bucket PLACEMENT
    hashes this column instead of the merge key, so point reads that
    probe by it (``read_partitioned_for_keys(..., key=bucket_col)``)
    prune to its buckets — the lakehouse analog of partitioning a table
    by its query column while deduping on its row key. CONTRACT: the
    bucket column must be functionally determined by the merge key
    (same key ⇒ same bucket value) — otherwise two versions of one key
    could land in different buckets and the per-bucket anti-join dedup
    would miss the stale copy. The natural shape is a key that EMBEDS
    the bucket value (``concat(bucket_val, sep, ...)``) — then the
    dependence holds by construction. Recorded in the manifest at
    creation; the manifest's value wins thereafter, like
    ``num_buckets``.
    """
    pdir = _ptable_dir(base_dir, name)
    os.makedirs(pdir, exist_ok=True)
    with WriterLease(pdir) as lease:
        manifest_path = os.path.join(pdir, "_MANIFEST")
        if os.path.exists(manifest_path):
            man = _read_manifest(pdir)
        else:
            man = {"num_buckets": num_buckets, "range_width": range_width,
                   "buckets": {}, "retired": {}, "bucket_col": bucket_col}
        nb = int(man["num_buckets"])
        rw = man.get("range_width")
        bcol = man.get("bucket_col") or key
        affected = sorted(
            r[0]
            for r in source.select(_bucket_expr(bcol, nb, rw).alias(_BUCKET_COL))
            .distinct()
            .collect()
        )
        if skip_absent_buckets:
            affected = [b for b in affected if str(b) in man["buckets"]]
        if not affected:
            return pdir
        cur = [
            os.path.join(pdir, man["buckets"][str(b)])
            for b in affected
            if str(b) in man["buckets"]
        ]
        target = spark.read.parquet(*cur) if cur else None
        merged = merge_fn(target, source).withColumn(
            _BUCKET_COL, _bucket_expr(bcol, nb, rw)
        )
        if shuffle_partitions:
            merged = merged.repartition(shuffle_partitions, F.col(_BUCKET_COL))
        else:
            merged = merged.repartition(F.col(_BUCKET_COL))
        staging = tempfile.mkdtemp(dir=pdir, prefix=".staging_")
        try:
            # ONE job writes every affected bucket (partitionBy splits the
            # staging dir per bucket; the bucket col stays out of the data
            # files, so bucket dirs read back with the table schema)
            merged.write.mode("overwrite").partitionBy(_BUCKET_COL).parquet(
                staging
            )
            new_buckets = dict(man["buckets"])
            retired = {k: list(v) for k, v in man.get("retired", {}).items()}
            dropped: list[str] = []
            for b in affected:
                part_src = os.path.join(staging, f"{_BUCKET_COL}={b}")
                if not os.path.isdir(part_src):
                    if drop_empty_affected and str(b) in new_buckets:
                        # the merge emptied this bucket: retire its dir
                        # and drop it from the manifest
                        gone = new_buckets.pop(str(b))
                        window = [gone] + retired.get(str(b), [])
                        retired[str(b)], extra = (
                            window[: keep - 1], window[keep - 1:]
                        )
                        dropped.extend(extra)
                    continue
                old = new_buckets.get(str(b))
                v = int(old.rsplit("_v", 1)[1]) + 1 if old else 1
                dest = f"b{b}_v{v}"
                dest_path = os.path.join(pdir, dest)
                if os.path.exists(dest_path):
                    # leftover of a crash between a previous attempt's
                    # rename and its manifest flip: the committed
                    # manifest still names v-1 (and `retired` only ever
                    # names versions < v), so this dir is an
                    # uncommitted orphan — remove it or the replay's
                    # os.rename fails ENOTEMPTY and the "any crash
                    # window replays cleanly" contract breaks
                    shutil.rmtree(dest_path)
                os.rename(part_src, dest_path)
                new_buckets[str(b)] = dest
                if old:
                    window = [old] + retired.get(str(b), [])
                    retired[str(b)], extra = window[: keep - 1], window[keep - 1 :]
                    dropped.extend(extra)
            man2 = {"num_buckets": nb, "range_width": rw,
                    "bucket_col": man.get("bucket_col"),
                    "buckets": new_buckets, "retired": retired,
                    # schema stamp: lets an all-buckets-emptied (or
                    # never-written) table read back as an empty
                    # DataFrame; refreshed each flip so it tracks the
                    # current table schema
                    "schema": merged.drop(_BUCKET_COL).schema.jsonValue()}
            tmp = manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(man2, f)
            if not lease.owns():
                os.unlink(tmp)
                raise LeaseLostError(
                    f"lease on {pdir} lost before manifest flip; aborting"
                )
            os.replace(tmp, manifest_path)  # the atomic commit
            # prune only AFTER the flip — in-flight readers of the previous
            # manifest still resolve dirs inside the keep window
            for d in dropped:
                shutil.rmtree(os.path.join(pdir, d), ignore_errors=True)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
    return pdir


def read_partitioned_range(
    spark: SparkSession,
    base_dir: str,
    name: str,
    key: str,
    lo: int,
    hi: int,
) -> DataFrame:
    """Key-range scan over a RANGE-bucketed ptable: bucket ids for
    [lo, hi] are pure arithmetic (lo//width .. hi//width — no data pass
    at all), so only those buckets' current versions are read, then the
    exact BETWEEN filter applies. The recency query a monotone-key table
    exists for ("tickets since id X") touches O(range/width) buckets of
    the table. Raises on hash-bucketed tables — a hash layout cannot
    serve range scans; that's the rule-of-thumb trade documented in
    DESIGN.md."""
    pdir = _ptable_dir(base_dir, name)
    man = _read_manifest(pdir)
    rw = man.get("range_width")
    if not rw:
        raise ValueError(
            f"{name} is hash-bucketed; range scans need range_width buckets"
        )
    paths = [
        os.path.join(pdir, man["buckets"][str(b)])
        for b in range(lo // rw, hi // rw + 1)
        if str(b) in man["buckets"]
    ]
    if not paths:
        return read_partitioned(spark, base_dir, name).limit(0)
    return spark.read.parquet(*paths).where(F.col(key).between(lo, hi))


def partitioned_upsert(
    spark: SparkSession,
    source: DataFrame,
    base_dir: str,
    name: str,
    key: str,
    num_buckets: int = 64,
    keep: int = 2,
    shuffle_partitions: int | None = None,
    range_width: int | None = None,
    bucket_col: str | None = None,
) -> str:
    """K4 MERGE that rewrites ONLY the key-hash buckets containing source
    keys. Same idempotent replace-matched/insert-new semantics as
    ``upsert`` (proven equal by test); I/O is O(|delta| + |affected
    buckets|) instead of O(|table|). ``bucket_col`` places rows by a
    probe column instead of the merge key (secondary-index co-location
    — see ``_partitioned_merge`` for the functional-dependence
    contract).

    ``num_buckets`` is fixed at table creation (the manifest's value wins
    thereafter). Size it so one bucket ≈ a few GB at the target scale —
    at 100 TB with 4k buckets a 10k-row delta hitting ≤10k distinct keys
    touches at most min(10k, 4k) buckets ≈ 25 GB rewritten vs 100 TB.
    ``shuffle_partitions`` controls output files per affected-bucket write
    (default: one shuffle partition per bucket → one file per bucket).
    The whole read-merge-publish runs under ``WriterLease`` with a
    pre-flip ownership check, like ``versioned_upsert``.
    """
    return _partitioned_merge(
        spark, source, base_dir, name, key,
        lambda target, src: merge_rows(target, src, key),
        num_buckets=num_buckets, keep=keep,
        shuffle_partitions=shuffle_partitions, range_width=range_width,
        bucket_col=bucket_col,
    )


def partitioned_delete_keys(
    spark: SparkSession,
    keys: DataFrame,
    base_dir: str,
    name: str,
    key: str,
    keep: int = 2,
    shuffle_partitions: int | None = None,
) -> str:
    """MERGE-DELETE on a bucketed ptable: rewrites ONLY the buckets that
    can contain the given keys — I/O is O(|keys| + |affected buckets|)
    instead of the full-table rewrite flat ``delete_keys`` pays, which
    is the difference between "per micro-batch sweep" and "impossible"
    on a 10⁹-row dimension. Idempotent: keys in absent buckets are
    skipped (nothing to delete — the bucket is not even created), a
    bucket whose rows are ALL deleted leaves the manifest (its dir is
    retired through the same keep-window in-flight readers rely on),
    and untouched buckets' files are never opened, let alone rewritten
    (pinned by test). The manifest flip is ``os.replace`` — atomic, so
    any crash window replays cleanly.

    On a ``bucket_col`` table the keys DataFrame must carry the bucket
    column too (placement hashes it, not the merge key) — a keys-only
    probe fails loudly in the bucket-id select rather than deleting
    from the wrong buckets."""
    # target is never None: absent buckets are skipped before the read
    return _partitioned_merge(
        spark, keys, base_dir, name, key,
        lambda target, src: delete_rows(target, src, key),
        keep=keep, shuffle_partitions=shuffle_partitions,
        skip_absent_buckets=True, drop_empty_affected=True,
    )


# --------------------------------------------------------------------------
# SCD2 — type-2 slowly-changing-dimension merge.
#
# The reference keeps full change history with a separate append-only
# `<t>_history` table next to the merged current state
# (core/extract/helpers/extractor_bq_helpers.py:83-108): history answers
# "what did we load", not "what was current when". SCD2 is the warehouse-
# standard strengthening — every key's row carries [valid_from, valid_to)
# + is_current, so point-in-time questions ("what was this ticket's status
# on June 3rd") are a plain range predicate. Change detection is null-safe
# struct equality over the non-key columns (no digest, no cross-engine
# string-cast hazards); an unchanged re-delivery of the same batch is a
# provable no-op, which makes the merge idempotent under the reference's
# overlapping 6-hour extraction windows.
# --------------------------------------------------------------------------

SCD2_COLS = ("valid_from", "valid_to", "is_current")


def scd2_init(source: DataFrame, effective_ts: str) -> DataFrame:
    """Shape a raw batch as the opening SCD2 state: every row current,
    valid from the batch's effective timestamp, open-ended."""
    return (
        source.withColumn("valid_from", F.to_timestamp(F.lit(effective_ts)))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )


def scd2_merge(
    target: DataFrame, source: DataFrame, key: str, effective_ts: str
) -> DataFrame:
    """Pure SCD2 merge algebra: new state = history ∪ unchanged-current ∪
    closed-out changed rows ∪ fresh current rows.

    * changed keys: current row's non-key attrs differ (null-safe struct
      inequality) from the source row's — their current row is closed at
      ``effective_ts`` and the source row inserted as the new current.
    * brand-new keys: inserted as current.
    * keys absent from the source, and keys whose source row is
      attribute-identical: untouched (same matched-rows-only semantics as
      the reference MERGE; re-running a batch is a no-op).

    The source must be key-unique (one row per key per batch — the
    reference's per-window extraction guarantees this); duplicate source
    keys would each insert as current, like they would in ``upsert``.

    Scale shape: every join is on the key column only, and the
    changed/new key sets are O(|delta|) — broadcast them. The target is
    read once per branch but Catalyst prunes each branch to the columns
    it needs; under ``partitioned_scd2_upsert`` the target is already
    just the affected buckets.
    """
    ts = F.to_timestamp(F.lit(effective_ts))
    attrs = [c for c in source.columns if c != key]
    cur = target.where(F.col("is_current"))
    hist = target.where(~F.col("is_current"))
    changed_keys = F.broadcast(
        cur.select(F.col(key), F.struct(*attrs).alias("_tgt"))
        .join(
            source.select(F.col(key), F.struct(*attrs).alias("_src")), on=key
        )
        .where(~F.col("_tgt").eqNullSafe(F.col("_src")))
        .select(key)
    )
    closed = (
        cur.join(changed_keys, on=key, how="left_semi")
        .withColumn("valid_to", ts)
        .withColumn("is_current", F.lit(False))
    )
    kept = cur.join(changed_keys, on=key, how="left_anti")
    new_src = source.join(
        F.broadcast(cur.select(key)), on=key, how="left_anti"
    )
    changed_src = source.join(changed_keys, on=key, how="left_semi")
    inserts = scd2_init(new_src.unionByName(changed_src), effective_ts)
    out_cols = [key] + attrs + list(SCD2_COLS)
    return (
        hist.unionByName(kept)
        .unionByName(closed)
        .unionByName(inserts)
        .select(*out_cols)
    )


def scd2_rows(
    target: DataFrame | None, source: DataFrame, key: str, effective_ts: str
) -> DataFrame:
    """SCD2 merge flavour over an optional target: an absent table opens
    with ``scd2_init``, an existing one goes through ``scd2_merge``."""
    if target is None:
        return scd2_init(source, effective_ts)
    return scd2_merge(target, source, key, effective_ts)


def scd2_upsert(
    spark: SparkSession,
    source: DataFrame,
    base_dir: str,
    name: str,
    key: str,
    effective_ts: str,
) -> str:
    """SCD2 merge into a flat parquet table (small-dimension path): read
    current state (``_current_table``), apply ``scd2_rows``, publish via
    the atomic-overwrite swap. First batch initializes the table."""
    path = table_path(base_dir, name)
    target = _current_table(spark, path)
    _atomic_overwrite(scd2_rows(target, source, key, effective_ts), path)
    return path


def partitioned_scd2_upsert(
    spark: SparkSession,
    source: DataFrame,
    base_dir: str,
    name: str,
    key: str,
    effective_ts: str,
    num_buckets: int = 64,
    keep: int = 2,
    shuffle_partitions: int | None = None,
    range_width: int | None = None,
) -> str:
    """SCD2 merge through the manifest-bucketed layout — the 100 TB path.
    All versions of a key live in its hash bucket (the bucket address
    never moves), so closing + inserting a key's rows touches exactly the
    buckets containing source keys: O(|delta| + affected buckets) I/O,
    untouched buckets byte-identical, manifest-atomic commit — the same
    bound ``partitioned_upsert`` gives the plain MERGE."""
    return _partitioned_merge(
        spark, source, base_dir, name, key,
        lambda target, src: scd2_rows(target, src, key, effective_ts),
        num_buckets=num_buckets, keep=keep,
        shuffle_partitions=shuffle_partitions, range_width=range_width,
    )


def scd2_as_of(df: DataFrame, as_of_ts: str) -> DataFrame:
    """Point-in-time view of an SCD2 table: the rows valid at ``as_of_ts``
    — a plain range predicate (pushable to the scan), no join."""
    ts = F.to_timestamp(F.lit(as_of_ts))
    return df.where(
        (F.col("valid_from") <= ts)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > ts))
    )


def scd2_apply_cdc(
    spark: SparkSession,
    changes: DataFrame,
    base_dir: str,
    name: str,
    key: str,
    seq_col: str,
    op_col: str,
    effective_ts: str,
    num_buckets: int = 64,
    keep: int = 2,
    shuffle_partitions: int | None = None,
    range_width: int | None = None,
) -> str:
    """The standard lakehouse feed→history composition: a CDC change feed
    collapsed latest-wins (``cdc_latest``) drives the bucketed SCD2
    dimension — insert/update winners merge through
    ``partitioned_scd2_upsert`` (changed keys close + re-open intervals),
    and 'D'-tombstone winners CLOSE the key's open interval at
    ``effective_ts`` with no replacement row (the key's history survives;
    only its currency ends — how a dimension records an upstream hard
    delete).

    The two winner sets are disjoint (one winner per key), so the two
    bucket-pruned merges commute; each touches only the buckets holding
    its keys. Tombstones must carry the payload columns (nullable is
    fine) so the feed has one schema."""
    latest = cdc_latest(changes, [key], seq_col, op_col)
    ups = latest.where(
        F.col(op_col).isNull() | (F.col(op_col) != "D")
    ).drop(op_col)
    dels = latest.where(F.col(op_col) == "D").drop(op_col)
    partitioned_scd2_upsert(
        spark, ups, base_dir, name, key, effective_ts,
        num_buckets=num_buckets, keep=keep,
        shuffle_partitions=shuffle_partitions, range_width=range_width,
    )
    ts = F.to_timestamp(F.lit(effective_ts))

    def close(target: DataFrame | None, src: DataFrame) -> DataFrame:
        if target is None:
            # tombstones for keys this table never held: nothing to close
            return scd2_init(src, effective_ts).limit(0)
        cur = target.where(F.col("is_current"))
        keys = F.broadcast(src.select(key))
        hit = (
            cur.join(keys, on=key, how="left_semi")
            .withColumn("valid_to", ts)
            .withColumn("is_current", F.lit(False))
        )
        kept = cur.join(keys, on=key, how="left_anti")
        return (
            target.where(~F.col("is_current"))
            .unionByName(kept)
            .unionByName(hit)
        )

    return _partitioned_merge(
        spark, dels, base_dir, name, key, close,
        num_buckets=num_buckets, keep=keep,
        shuffle_partitions=shuffle_partitions, range_width=range_width,
    )


# --------------------------------------------------------------------------
# Date-partitioned fact sinks — the K2/K5 layout for 100 TB append tables.
#
# The flat ``append``/``history_append`` write one undifferentiated parquet
# directory; at the reference's 6-hour cadence a year of batches is ~1.5k
# file sets that every time-range scan must list and open. Hive-style
# ``partitionBy(date)`` is the standard fix: time predicates prune whole
# partition DIRECTORIES before any file is opened (PartitionFilters in the
# plan, asserted by test), and a batch re-run is made idempotent by DYNAMIC
# partition overwrite — mode("overwrite") with
# partitionOverwriteMode=dynamic replaces exactly the partitions present
# in the batch and leaves every other partition's files byte-identical.
# That pairs with the reference's wall-clock 6-hour extraction windows
# (utils/date_utils.py:14-21): a re-extracted window lands as a partition
# replacement, not a duplicate append.
# --------------------------------------------------------------------------


def append_partitioned_by(
    df: DataFrame, base_dir: str, name: str, part_col: str
) -> str:
    """K2 WRITE_APPEND into a hive-partitioned layout (one directory per
    ``part_col`` value). Use ``replace_partitions`` for re-runnable
    batches."""
    path = table_path(base_dir, name)
    df.write.mode("append").partitionBy(part_col).parquet(path)
    return path


def replace_partitions(
    df: DataFrame, base_dir: str, name: str, part_col: str
) -> str:
    """Idempotent batch load: overwrite ONLY the partitions present in
    ``df`` (dynamic partition overwrite). Re-running the same batch yields
    the identical table; partitions not named by the batch are untouched
    on disk. This is the partition-level analogue of the key-level
    ``partitioned_upsert`` — use it when the natural delta unit is a time
    window rather than a key set."""
    path = table_path(base_dir, name)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )
    return path


# --------------------------------------------------------------------------
# Z-order clustered layout — multi-column data skipping for plain parquet.
#
# A table sorted on ONE column has tight per-file min/max on that column
# only: a predicate on any other column overlaps every file. Interleaving
# the bit patterns of several columns into one Morton (z) key and range-
# partitioning + sorting on it makes every file a small hyper-rectangle in
# the clustered columns' space, so min/max statistics prune files for a
# predicate on ANY of them — the layout trick Delta OPTIMIZE ZORDER BY and
# Iceberg sort orders implement, reduced here to pure DataFrame ops: one
# metadata-sized min/max collect, a bit-interleave expression (whole-stage
# codegen), repartitionByRange + sortWithinPartitions. At 100 TB the same
# key feeds a Delta/Iceberg table's sort order; the pruning-fraction test
# quantifies the win from the written parquet footers.
# --------------------------------------------------------------------------


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8):
    """Morton key over ``cols``: each column is min/max-scaled to
    ``bits``-bit integer ranks (one tiny driver-side stats collect — the
    same metadata move as the manifest's bucket listing), then the rank
    bits are interleaved. Returns the key Column.

    ``cols`` must cast cleanly to double (numeric or timestamp; cast
    dates with ``F.col(c).cast("timestamp")`` first — ANSI mode rejects
    date→double). NULLs rank 0, constant columns contribute nothing."""
    if bits * len(cols) > 63:
        raise ValueError(
            f"bits*len(cols) = {bits * len(cols)} overflows a long key; "
            "lower bits or cluster fewer columns"
        )
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    ranks = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) if (mn is not None and mx is not None) else 0.0
        if not span:
            ranks.append(F.lit(0).cast("long"))
            continue
        scaled = F.floor(
            (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * F.lit(top)
        ).cast("long")
        # clamp: float roundoff at the max edge, and NULLs sort first
        ranks.append(
            F.coalesce(
                F.greatest(F.least(scaled, F.lit(top)), F.lit(0)), F.lit(0)
            )
        )
    k = len(cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, r in enumerate(ranks):
            bit = F.shiftright(r, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * k + j)
    return z


def zorder_write(
    spark: SparkSession,
    df: DataFrame,
    base_dir: str,
    name: str,
    cols: list[str],
    num_files: int = 32,
    bits: int = 8,
) -> str:
    """Publish ``df`` z-ordered on ``cols`` into ``num_files`` range
    partitions of the Morton key, rows sorted by it within each file so
    row-group stats are tight too. The key column itself is dropped
    before the write — the clustering lives in the file layout, not the
    schema."""
    out_cols = list(df.columns)
    clustered = (
        df.withColumn("_z", zorder_key(df, cols, bits))
        .repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .select(*out_cols)
    )
    path = table_path(base_dir, name)
    _atomic_overwrite(clustered, path)
    return path


def table_lease(base_dir: str, name: str, ttl: float = _LEASE_TTL_S) -> WriterLease:
    """Writer lease for a flat (non-versioned) table — the lock lives in a
    sibling ``<table>.parquet.lock/`` dir so ``_atomic_overwrite``'s
    directory swap can never delete the lock out from under its holder."""
    lock_dir = table_path(base_dir, name) + ".lock"
    os.makedirs(lock_dir, exist_ok=True)
    return WriterLease(lock_dir, ttl=ttl)


def compact(
    spark: SparkSession,
    base_dir: str,
    name: str,
    max_files: int = 64,
    target_files: int = 8,
    lease_ttl: float = _LEASE_TTL_S,
) -> int:
    """Small-file compaction for the append sinks: ``append`` /
    ``history_append`` add one file set per batch forever (~1.5k files/year
    per table at the reference's 6-hour cadence), and parquet scan setup
    degrades linearly in file count. When the table holds more than
    ``max_files`` part files, rewrite it into ``target_files`` via the
    atomic-overwrite swap, under the table's writer lease so a concurrent
    compactor can't race (appenders in a multi-writer deployment must take
    ``table_lease`` around their batch too — plain parquet has no
    append/compact transaction isolation; that is Delta's job in the
    documented production cutover).

    ``lease_ttl`` MUST match the TTL every other writer of this table
    uses: staleness is judged by each CONTENDER's ttl, so a compactor
    holding the lock with a long TTL (heartbeat every ttl/4) looks stale
    to an appender configured with a short one, gets its live lease
    broken mid-rewrite, and the append lands in a directory the swap then
    clobbers — a lost batch (the contention test reproduces exactly this
    with mismatched TTLs).

    Returns the number of part files after the call (unchanged if the
    table was already under the threshold, 0 if it was never written).
    """
    path = table_path(base_dir, name)

    def _n_parts() -> int:
        return sum(
            1 for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )

    with table_lease(base_dir, name, ttl=lease_ttl):
        # restore an interrupted swap before counting; the read waits for
        # the threshold so an under-threshold call issues no Spark job
        if not _restore_swap(path):
            return 0
        n = _n_parts()
        if n <= max_files:
            return n
        df = spark.read.parquet(path)
        _atomic_overwrite(df.repartition(target_files), path)
        return _n_parts()


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    base_dir: str,
    name: str,
    key: str,
    num_buckets: int,
) -> str:
    """Bucketed external table: hash-partition rows into ``num_buckets``
    files by ``key`` and sort within each bucket. Two tables bucketed the
    same way join WITHOUT a shuffle (Spark plans a sort-merge join over
    co-located buckets — verified by the plan test) — at 100 TB this is
    how recurring fact-fact joins (J3: lineitem ⋈ orders) drop their
    dominant exchange: pay one bucketed write, join shuffle-free forever
    after. The reference gets the same effect from BigQuery clustered
    tables (core/BigQueryManager.py:47-70 load path).

    Returns the catalog table name to query (``spark.table(returned)``).
    The name is namespaced with a digest of ``base_dir`` so two directories
    using the same logical table name never collide in the shared session
    catalog, and any stale registration under that name is dropped before
    the save so the catalog entry always matches the written path.
    """
    path = table_path(base_dir, name)
    catalog_name = f"{name}_{hashlib.md5(base_dir.encode()).hexdigest()[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS `{catalog_name}`")
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(catalog_name)
    )
    return catalog_name


def prepare_and_load(
    spark: SparkSession,
    df: DataFrame,
    base_dir: str,
    name: str,
    write_mode: str = "append",
    load_data: bool = True,
) -> str:
    """K6: ensure table → optional load with disposition
    (extractor_bq_helpers.py:13-38). Schema comes from the DataFrame
    itself — Spark schemas are explicit, replacing the reference's
    first-row inference hazard (K3, core/BigQueryManager.py:72-114)."""
    path = ensure_table(spark, base_dir, name, df)
    if not load_data:
        return path
    if write_mode == "overwrite":
        return overwrite(df, base_dir, name)
    return append(df, base_dir, name)


def cdc_latest(
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str,
) -> DataFrame:
    """Latest-wins collapse of a change feed: ONE max_by aggregation to
    |changed keys| rows (map-side partial combine), keeping the winning
    row's payload and ``op_col``. Shared by ``apply_cdc`` (snapshot
    replication) and ``scd2_apply_cdc`` (dimension-history feed)."""
    payload = [
        c for c in changes.columns
        if c not in (*key_cols, seq_col, op_col)
    ]
    return (
        changes.groupBy(*key_cols)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload], F.col(op_col)),
                F.struct(F.col(seq_col), F.col(op_col)),
            ).alias("__last")
        )
        .select(*key_cols, "__last.*")
    )


def apply_cdc(
    target: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str,
) -> DataFrame:
    """Change-data-capture apply: collapse a change feed (insert/update
    rows + 'D' delete tombstones, each stamped with a monotonically
    increasing ``seq_col``) onto a target snapshot — the algebra behind
    replicating an OLTP table into the lake. Latest change per key wins;
    a winning 'D' removes the key, anything else replaces the row.
    (``seq_col`` must order a key's changes totally — ties fall back to
    ``op_col`` so the result stays deterministic, but a feed with real
    seq ties is ambiguous by construction.) A winning change whose op is
    NULL (malformed feed row) is applied as an upsert, NOT a delete —
    a bare ``op != 'D'`` filter evaluates NULL and would silently drop
    the key exactly like a tombstone.

    Plan shape at 100 TB: ONE max_by aggregation collapses the feed to
    |changed keys| rows (map-side partial combine — a day's feed
    collapses before it shuffles), then one left-anti join against the
    target on the key. The target is read once and never re-sorted;
    pair with ``partitioned_upsert``'s bucket layout to rewrite only the
    buckets containing changed keys."""
    latest = cdc_latest(changes, key_cols, seq_col, op_col)
    survivors = latest.where(
        F.col(op_col).isNull() | (F.col(op_col) != "D")
    ).drop(op_col)
    untouched = target.join(
        latest.select(*key_cols), key_cols, "left_anti"
    )
    return untouched.unionByName(survivors)
