"""The benchmark workloads.

Each workload is driven from outside the package, only through its public
entry points, and gives ``run.py`` the same steps:

* ``make_inputs()`` — seeded generation, no Spark (kept out of set-up);
* ``run_pass(spark, k)`` — the ``k``-th pass; returns a ``Pass`` whose
  ``problems`` list every output check that failed. The first pass of a
  process is cold: it pays the JVM's JIT and Spark's code generation for
  every plan it runs, as a scheduled run in a fresh driver does;
* ``verify(spark)`` — checks against an independent reference that are
  too slow to repeat every pass;
* ``headline(passes)`` — the workload's own figures (throughput, calls
  per conversation, latency percentiles) over the given passes.

``lifecycle``  two scheduled runs through ``api.Engine.dispatch`` (a full
               run into empty tables, then an incremental run) with a
               counting LLM gateway.
``query_mix``  the 14 read-only headline queries of
               ``plans.registry.ALL_QUERIES`` at sf0.1, seed-shuffled.
"""
from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import gen

# a lifecycle pass is bound by per-job latency: 4000 tickets cost about
# what 150 do, while 36k tickets take a warm pass from ~8 s to ~32 s
LIFECYCLE_TICKETS = 4000
QUERY_SF, SMALL_SF = 0.1, 0.01

QUERY_MIX = [
    "a1_pricing_summary",
    "j1_broadcast_enrich",
    "j3_correlated_attach",
    "j5_similarity_argmax",
    "w2_topk_per_group",
    "a5_ordered_group_concat",
    "f8_tumbling_6h",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "u1_convo_analysis",
    "entity_resolution_name",
    "text_pagerank",
    "ann_ivfsq_topk",
]
ROUTES = {
    "agents": "extract/process-agents",
    "tags": "extract/process-tags",
    "tickets_messages": "extract/process-tickets-and-messages",
    "convo": "extract/process-convo",
    "logs": "process-logs",
}


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    error: str | None = None


@dataclass
class Pass:
    wall: float
    ops: list[Op]
    extra: dict = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)


def _dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(suffix)
        )
    return total


def _timed(rec, span: str, fn) -> tuple[Op, object]:
    t0 = time.perf_counter()
    with rec.span(span):
        try:
            out = fn()
        except Exception as e:  # a failed op is counted, not fatal
            return Op(span, time.perf_counter() - t0, False, f"{type(e).__name__}: {e}"[:300]), None
    return Op(span, time.perf_counter() - t0, True), out


# -- lifecycle ---------------------------------------------------------------


def _eligible(messages: pa.Table) -> set[str]:
    """Tickets the convo route analyzes: ones with an M-type, T-format
    message (computed here with pyarrow, independently of the engine)."""
    m = messages.filter(
        pc.and_(
            pc.equal(messages["message_type"], "M"),
            pc.equal(messages["message_format"], "T"),
        )
    )
    return set(m["ticket_id"].unique().to_pylist())


class Lifecycle:
    name = "lifecycle"

    def __init__(self, work: str, seed: int, rec):
        self.work, self.seed, self.rec = work, seed, rec
        self.gateway = None

    def make_inputs(self) -> dict:
        d = os.path.join(self.work, "payload")
        os.makedirs(d, exist_ok=True)
        tables = gen.lifecycle_payloads(self.seed, LIFECYCLE_TICKETS)
        for k, t in tables.items():
            pq.write_table(t, os.path.join(d, f"{k}.parquet"))
        full = _eligible(tables["messages_full"])
        both = full | _eligible(tables["messages_incremental"])
        self.main = {
            "dir": d,
            "conv_full": len(full),
            "conv_incremental": len(both),
            "messages": tables["messages_full"].num_rows
            + tables["messages_incremental"].num_rows,
            "info": {
                "rows": {k: t.num_rows for k, t in tables.items()},
                "bytes": _dir_bytes(d),
            },
        }
        return self.main["info"]

    def verify(self, spark) -> list[str]:
        return []  # every pass checks its own tables

    def headline(self, passes: list[Pass]) -> dict[str, tuple[float, str]]:
        def med(key: str) -> float:
            return statistics.median(p.extra[key] for p in passes)

        return {
            "full_run_s": (med("full_s"), "s"),
            "incremental_run_s": (med("incremental_s"), "s"),
            "messages_per_s": (
                self.main["messages"] / statistics.median(p.wall for p in passes), "1/s"
            ),
            "llm_calls_per_conversation": (
                (med("calls_full") + med("calls_incremental")) / med("conversations"),
                "ratio",
            ),
            "table_bytes_per_input_byte": (med("table_bytes") / med("input_bytes"), "ratio"),
        }

    def run_pass(self, spark, k: int) -> Pass:
        from mgo_liveagent_data_pipeline_spark.api import Engine
        from pyspark.sql import functions as F

        from .gateway import CountingGateway

        if self.gateway is None:
            self.gateway = CountingGateway(spark.sparkContext)
        gw = self.gateway
        payload = self.main
        d = payload["dir"]
        base = os.path.join(self.work, "tables", f"p{k}")

        def raw(name: str):
            return spark.read.parquet(os.path.join(d, f"{name}.parquet"))

        engine = Engine(spark, base, gateway=gw)
        ops: list[Op] = []
        extra: dict = {}
        t_cycle = time.perf_counter()
        for run in ("full", "incremental"):
            # route arguments are built inside each route's span: reading
            # the raw payload is part of the route
            args = {
                "agents": lambda: {"raw_agents": raw("agents")},
                "tags": lambda: {"raw_tags": raw("tags")},
                "tickets_messages": lambda run=run: {
                    "raw_tickets": raw(f"tickets_{run}"),
                    "raw_messages": raw(f"messages_{run}"),
                },
                "convo": dict,
                "logs": lambda run=run: {
                    "run_keys": raw(f"tickets_{run}").select(F.col("id").alias("ticket_id")),
                    "existing_keys": (
                        raw("tickets_full").select(F.col("id").alias("ticket_id"))
                        if run == "incremental"
                        else spark.createDataFrame([], "ticket_id string")
                    ),
                },
            }
            t_run = time.perf_counter()
            with self.rec.span(f"lifecycle.{run}", run=f"p{k}", leaf=False):
                for short, route in ROUTES.items():
                    before = gw.calls.value
                    op, _ = _timed(
                        self.rec, f"api.{short}",
                        lambda r=route, a=args[short]: engine.dispatch(r, **a()),
                    )
                    ops.append(op)
                    if short == "convo":
                        extra[f"calls_{run}"] = gw.calls.value - before
            extra[f"{run}_s"] = time.perf_counter() - t_run
        wall = time.perf_counter() - t_cycle
        p = Pass(wall, ops, extra)
        if all(o.ok for o in ops):
            with self.rec.span("check.lifecycle"):
                p.problems = self._check(spark, base, payload)
        extra["table_bytes"] = _dir_bytes(base)
        extra["input_bytes"] = payload["info"]["bytes"]
        extra["conversations"] = payload["conv_full"] + payload["conv_incremental"]
        shutil.rmtree(base, ignore_errors=True)
        return p

    def _check(self, spark, base: str, payload: dict) -> list[str]:
        from pyspark.sql import functions as F

        def table(name: str):
            return spark.read.parquet(os.path.join(base, f"{name}.parquet"))

        want = {
            "convo_analysis rows": payload["conv_incremental"],
            "convo_analysis_history rows": payload["conv_full"] + payload["conv_incremental"],
            "logs rows": 2,
            "ANALYSIS_FAILED rows": 0,
        }
        got = {
            "convo_analysis rows": table("convo_analysis").count(),
            "convo_analysis_history rows": table("convo_analysis_history").count(),
            "logs rows": table("logs").count(),
            "ANALYSIS_FAILED rows": table("convo_analysis_history")
            .where(F.col("summary") == "ANALYSIS_FAILED")
            .count(),
        }
        return [f"{k}: got {got[k]}, want {v}" for k, v in want.items() if got[k] != v]


# -- query mix ---------------------------------------------------------------

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


class QueryMix:
    name = "query_mix"
    members = QUERY_MIX
    # its DuckDB oracle takes ~20 s at sf0.1, longer than the whole pass:
    # this member is checked on sf0.01 inputs instead
    slow_oracles = {"dedup_minhash_lsh"}

    def __init__(self, work: str, seed: int, rec):
        self.work, self.seed, self.rec = work, seed, rec
        self.counts: dict[str, int] = {}

    def make_inputs(self) -> dict:
        self.main_dir = os.path.join(self.work, "sf")
        self.small_dir = os.path.join(self.work, "sf_small")
        self.rows = gen.write_tables(self.main_dir, QUERY_SF, self.seed)
        gen.write_tables(self.small_dir, SMALL_SF, self.seed)
        return {"sf": QUERY_SF, "rows": self.rows, "bytes": _dir_bytes(self.main_dir)}

    def order(self, k: int) -> list[str]:
        # a fresh seeded order each pass: no member always runs first
        rng = np.random.default_rng([self.seed, k])
        return [self.members[i] for i in rng.permutation(len(self.members))]

    def run_pass(self, spark, k: int) -> Pass:
        return self._pass(spark, self.main_dir, self.order(k), self.counts, "query")

    def _pass(self, spark, where: str, order: list[str], counts: dict, prefix: str) -> Pass:
        from mgo_liveagent_data_pipeline_spark.operators.dedup import release_intermediates
        from mgo_liveagent_data_pipeline_spark.plans.registry import ALL_QUERIES
        from mgo_liveagent_data_pipeline_spark.scratch import purge_scratch

        ops = []
        wall = 0.0
        for m in order:
            op, n = _timed(
                self.rec, f"{prefix}.{m}",
                lambda m=m: ALL_QUERIES[m](spark, where).count(),
            )
            wall += op.seconds
            # scratch tables and cached intermediates are consumed by the
            # count; dropping them between members (untimed) keeps disk and
            # memory use flat, and no member reads another one's cache
            purge_scratch()
            release_intermediates()
            if op.ok and counts.setdefault(m, n) != n:
                op.ok = False
                op.error = f"{n} rows, earlier pass {counts[m]}"
            ops.append(op)
        return Pass(wall, ops)

    def _oracle_counts(self, where: str, members) -> dict[str, int]:
        """Row counts from each member's DuckDB oracle, an independent SQL
        implementation."""
        import duckdb
        from mgo_liveagent_data_pipeline_spark.plans.registry import ALL_ORACLES

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{tempfile.gettempdir()}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{where}/{t}.parquet'")
        out = {
            m: con.execute(f"SELECT COUNT(*) FROM ({ALL_ORACLES[m]})").fetchone()[0]
            for m in members
        }
        con.close()
        return out

    def verify(self, spark) -> list[str]:
        """Each member's count against its oracle: on the main inputs the
        count the passes agreed on; ``slow_oracles`` members are run once
        more, untimed, on the small inputs and checked there."""
        small: dict[str, int] = {}
        slow = sorted(self.slow_oracles)
        p = self._pass(spark, self.small_dir, slow, small, "check")
        checks = [(self.main_dir, self.counts, [m for m in self.members if m not in slow]),
                  (self.small_dir, small, slow)]
        problems = [f"{o.name}: {o.error}" for o in p.ops if not o.ok]
        for where, got, members in checks:
            want = self._oracle_counts(where, members)
            problems += [
                f"{m}: {got.get(m)} rows in {os.path.basename(where)}, oracle {want[m]}"
                for m in members if got.get(m) != want[m]
            ]
        return problems

    def headline(self, passes: list[Pass]) -> dict[str, tuple[float, str]]:
        # no 90th percentile: a pass holds 14 queries, too few for one
        lat = [o.seconds for p in passes for o in p.ops]
        return {
            "queries_per_s": (len(lat) / sum(p.wall for p in passes), "1/s"),
            "query_p50_s": (statistics.median(lat), "s"),
        }


WORKLOADS = {w.name: w for w in (Lifecycle, QueryMix)}
