"""Plan auditor: for every registry query, print the physical-plan signals
that matter at scale — exchange (shuffle) count, broadcast joins, pushed
filters, and scan column width. Flags scans that read more columns than
the query projects (missing pruning) and filter-less full scans of big
tables.

Usage: python tools/audit_plans.py [query ...]
"""
from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# queries whose plan is driven by python workers / writes — skip plan text
SKIP = {
    "stream_tumbling_6h",
    "stream_upsert_6h",
    "stream_merge_partitioned",
    "k_materialized_upsert",
    "k_scd2_upsert",
    "k5_history_sink",
    "k_datepart_sink",
    "k_zorder_sink",
}


def _executed_exchange_count(plan: str) -> int:
    """Exchange count of the EXECUTED (cache-aware) shape. The formatted
    explain's per-node DETAIL sections ("(id) NodeName") enumerate only
    the top-level plan's nodes — the inlined build dumps of materialized
    ``InMemoryRelation`` caches (whose exchanges execution never
    re-runs) are simple-string dumps with no detail headers — so
    counting Exchange detail headers IS the executed shuffle count,
    immune to the recursive cache-dump inflation the raw tree count
    suffers."""
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))


def audit_line(spark, name: str, fn, sf_dir: str = SF_DIR) -> str:
    """The audit line of one registry query: exchange/broadcast/SMJ
    counts, scan widths and pushed filters of its formatted plan (plus
    the cache-aware executed exchange count when the raw count is above
    4), and the WIDE-SCAN / MANY-SHUFFLES flags."""
    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        release_intermediates,
    )

    try:
        df = fn(spark, sf_dir)
        # Release persisted intermediates BEFORE explain: a build-time
        # -materialized cache (the iterative operators run actions)
        # makes explain inline the cached relation's full original
        # AQE dump — recursively, once per reference — which inflated
        # dedup_ngram_pairs to exch=93 when its executed plan reads
        # those stages from cache. Post-release the plan prints the
        # raw recompute shape: the honest what-if-nothing-were-cached
        # view, and the same semantics every earlier audit used for
        # unmaterialized caches.
        release_intermediates()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    except Exception as e:
        release_intermediates()
        return f"{name}: ERROR {type(e).__name__}: {str(e)[:120]}"
    n_exchange = len(re.findall(r"\bExchange\b", plan))
    n_bhj = len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan))
    n_smj = len(re.findall(r"SortMergeJoin", plan))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    widths = [len(s.split(",")) if s else 0 for s in schemas]
    exec_note = ""
    n_flag = n_exchange
    if n_exchange > 4:
        # the raw recompute shape of a multi-member union re-counts
        # every cached stage per reference; re-explain with the
        # operators' caches MATERIALIZED and count only exchanges
        # outside InMemoryRelation subtrees — the shape execution
        # actually runs — so MANY-SHUFFLES flags real plans, not
        # audit artifacts
        try:
            df2 = fn(spark, sf_dir)
            df2.count()
            buf2 = io.StringIO()
            with redirect_stdout(buf2):
                df2.explain("formatted")
            n_exec = _executed_exchange_count(buf2.getvalue())
            release_intermediates()
            exec_note = f"exec_exch={n_exec} "
            n_flag = n_exec
        except Exception:  # pragma: no cover - audit best-effort
            # surface the failure instead of silently flagging the
            # inflated raw count as if it were the executed shape
            exec_note = "exec_exch=ERR "
            release_intermediates()
    flags = []
    if any(w > 8 for w in widths):
        flags.append(f"WIDE-SCAN({max(widths)} cols)")
    if n_flag > 4:
        flags.append(f"MANY-SHUFFLES({n_flag})")
    return (
        f"{name:28s} exch={n_exchange} {exec_note}bhj={n_bhj} smj={n_smj} "
        f"scan_widths={widths} pushed={[p for p in pushed if p][:2]} "
        f"{' '.join(flags)}"
    )


def main() -> None:
    only = set(sys.argv[1:])
    from mgo_liveagent_data_pipeline_spark.plans.registry import ALL_QUERIES as QUERIES
    from mgo_liveagent_data_pipeline_spark.session import get_spark

    spark = get_spark("audit_plans")
    print(
        "# One line per registered query (members AND driver suite rows)."
        " A *_suite row tag-unions its members, so its exch/bhj counts are"
        " the SUM over members — read the member lines above it for the"
        " per-operator plan; a suite never adds shuffles of its own"
        " (unions are narrow). Plans are explained with the operators'"
        " scoped caches released, so exch/bhj/smj describe the raw"
        " recompute shape — execution reuses cached stages and runs"
        " fewer exchanges than printed for the dedup family. Lines with"
        " raw exch>4 ALSO print exec_exch= — the cache-aware executed"
        " shape (caches materialized, InMemoryRelation subtrees"
        " excluded); MANY-SHUFFLES flags fire on THAT count, so they"
        " mark real plans, not audit artifacts."
    )
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        if name in SKIP:
            continue
        print(audit_line(spark, name, fn))
    spark.stop()


if __name__ == "__main__":
    main()
