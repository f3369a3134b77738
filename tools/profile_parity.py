"""Per-stage wall profile of q_elt_parity_pipeline (round-11 optimization
round): wraps the writer / enrich / read entry points with timers, runs
the member once warm, and prints cumulative wall per entry plus the
Spark job count each entry triggered.

Usage: python tools/profile_parity.py [reps]
"""
from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    from mgo_liveagent_data_pipeline_spark.scratch import purge_scratch
    from mgo_liveagent_data_pipeline_spark.session import get_spark
    from mgo_liveagent_data_pipeline_spark import pipelines
    from mgo_liveagent_data_pipeline_spark.plans import parity
    from mgo_liveagent_data_pipeline_spark.sinks import writers
    from mgo_liveagent_data_pipeline_spark.operators import dedup as dedup_mod
    from mgo_liveagent_data_pipeline_spark.enrich import convo as convo_mod

    spark = get_spark("profile_parity")
    st = spark.sparkContext.statusTracker()

    walls: dict[str, float] = defaultdict(float)
    jobs: dict[str, int] = defaultdict(int)
    calls: dict[str, int] = defaultdict(int)

    def wrap(mod, name, label=None):
        orig = getattr(mod, name)
        lbl = label or name

        def timed(*a, **k):
            j0 = len(st.getJobIdsForGroup(None) or []) or _alljobs()
            t0 = time.monotonic()
            out = orig(*a, **k)
            walls[lbl] += time.monotonic() - t0
            jobs[lbl] += _alljobs() - j0
            calls[lbl] += 1
            return out

        setattr(mod, name, timed)
        return orig

    def _alljobs() -> int:
        try:
            return (max(st.getJobIdsForGroup(None) or [-1]) + 1) if True else 0
        except Exception:
            return 0

    # entries as parity.py sees them (it imports inside the function, so
    # patch the SOURCE modules)
    wrap(writers, "upsert")
    wrap(writers, "append")
    wrap(writers, "history_append")
    wrap(writers, "ensure_table")
    wrap(dedup_mod, "_scoped_persist")
    wrap(convo_mod, "analyze_conversations")
    # the shared convo/logs stages (pipelines.py) bind these at import
    for name in ("upsert", "append", "history_append", "analyze_conversations"):
        wrap(pipelines, name)

    # warm
    parity.q_elt_parity_pipeline(spark, SF_DIR).count()
    purge_scratch()
    for k in list(walls):
        walls[k] = 0.0
        jobs[k] = 0
        calls[k] = 0

    for _ in range(reps):
        t0 = time.monotonic()
        df = parity.q_elt_parity_pipeline(spark, SF_DIR)
        t_build = time.monotonic() - t0
        j0 = _alljobs()
        t1 = time.monotonic()
        df.count()
        t_count = time.monotonic() - t1
        j_count = _alljobs() - j0
        purge_scratch()
        print(f"build {t_build:7.3f}s   ledger-count {t_count:7.3f}s "
              f"({j_count} jobs)   TOTAL {t_build + t_count:7.3f}s")
    print(f"{'entry':26s} {'wall_s':>8s} {'jobs':>5s} {'calls':>6s}")
    for k in sorted(walls, key=lambda x: -walls[x]):
        print(f"{k:26s} {walls[k] / reps:8.3f} {jobs[k] // reps:5d} "
              f"{calls[k] // reps:6d}")
    spark.stop()


if __name__ == "__main__":
    main()
