"""Benchmark entry point.

    python3 perfbench/run.py --workload {lifecycle,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. Everything the run
reads or writes stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` in that checkout. One client, closed loop: each call
into the package starts when the previous one has returned.

Every run starts a fresh JVM, and the pass it times first is cold: like a
scheduled run in a fresh driver, it pays JIT compilation and Spark's code
generation for each plan. That keeps a run short (JVM start, set-up and
one pass) and takes out the drift of a JVM that is still warming up.

An untraced run (``--trace 0``) prints the end-to-end metrics:

1. generate the workload's inputs from ``--seed`` (not timed);
2. set up five times — start the Spark session (``local[<cores>]``,
   which also ships the package) and run a small warm-up of scan,
   aggregate, window and broadcast join — and report the median as
   ``setup_s``; the first set-up also starts the JVM, and every session
   but the last is stopped again;
3. time whole passes until the next one would end past ``--seconds``
   (at least one), sampling the process tree's memory and the host's
   CPU split into our own load, other load and steal;
4. check outputs, stop every process, print one JSON line of run
   details — among them ``failed_op_ratio``, the workload's own figures
   (``headline``) and the walls of any later, warm passes — and then the
   result line with ``setup_s``, ``wall_s`` (the cold pass) and
   ``peak_rss_mb``.

A traced run (``--trace 1``) prints the per-layer metrics, the same set
whichever workload is named. In one untraced session it runs a cold
lifecycle pass (the source of ``lifecycle.*``) and a warm one; then it
starts a session with Spark's event log on, in the same JVM, runs one
traced pass of each workload and checks their outputs. Each Spark job
goes to the call (span) that was running when it was submitted; the
per-layer metrics are per-span totals, ``spark.*`` covers the named
workload, and ``trace.overhead_s`` is the traced lifecycle pass minus
the warm untraced one (a low estimate: the traced pass is the third
and its JVM a little warmer).
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "mgo_liveagent_data_pipeline_spark"
SETUP_REPS = 5
CHOICES = ("lifecycle", "query_mix")


def _configure(work: str) -> dict:
    """Fit Spark to this host and keep its scratch inside ``work``."""
    from perfbench.hostmon import host_info

    host = host_info()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # driver heap: 3 GB, or a third of RAM on smaller hosts (the engine's
    # 48g default is larger than many hosts)
    heap_gb = max(1, min(3, int(host["ram_gb"] // 3)))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host["cores"]),
        SPARK_DRIVER_MEMORY=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    tempfile.tempdir = tmp
    host["driver_memory"] = f"{heap_gb}g"
    return host


def _java_options(work: str) -> str:
    # the heap is committed and touched at JVM start, so peak_rss_mb does
    # not drift with how far GC happened to grow it; what moves it is
    # memory outside the heap (Arrow buffers, Python workers, the driver)
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    return f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{heap} -XX:+AlwaysPreTouch"


def _conf(work: str, event_log: bool = False) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": _java_options(work),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _session(conf: dict):
    """Session start; ``get_spark`` also ships the package."""
    from mgo_liveagent_data_pipeline_spark.session import get_spark

    return get_spark("perfbench", extra_conf=conf)


def _start(conf: dict):
    """One set-up: session start and a JVM warm-up of scan, aggregate,
    window and broadcast join."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    spark = _session(conf)
    df = spark.range(5000).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    df.groupBy("k").agg(F.sum("v")).collect()
    df.withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy("v"))).count()
    df.join(F.broadcast(df.select("k").distinct()), "k").count()
    return spark


def _setup(conf: dict, reps: int) -> tuple[object, list[float]]:
    times, spark = [], None
    for _ in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _start(conf)
        times.append(time.perf_counter() - t0)
    return spark, times


def _shutdown() -> None:
    """Stop Spark, if it runs, and wait for the JVM (and with it every
    Python worker) to exit. Safe to call more than once."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _timed_passes(spark, wl, seconds: float) -> tuple[list, dict]:
    from perfbench.hostmon import TreeSampler, ambient, cpu_sample

    sampler = TreeSampler().start()
    sampler.reset()
    pre = cpu_sample()
    time.sleep(0.3)
    pre = ambient(pre, cpu_sample())
    passes, elapsed = [], 0.0
    while True:
        a = cpu_sample()
        p = wl.run_pass(spark, len(passes) + 1)
        p.extra["ambient"] = ambient(a, cpu_sample())
        passes.append(p)
        elapsed += p.wall
        # passes only get faster after the cold one: the last is an upper
        # bound on the next
        if elapsed + p.wall > seconds:
            break
    sampler.stop()
    post = cpu_sample()
    time.sleep(0.3)
    post = ambient(post, cpu_sample())
    return passes, {"pre": pre, "post": post, "peak_rss_mb": sampler.peak_mb}


def _failed(passes) -> int:
    return sum(sum(not o.ok for o in p.ops) + len(p.problems) for p in passes)


def _pass_summary(p) -> dict:
    return {
        "wall_s": round(p.wall, 3),
        "ops": {o.name: round(o.seconds, 3) for o in p.ops},
        "failed": [f"{o.name}: {o.error}" for o in p.ops if not o.ok] + p.problems,
        **p.extra,
    }


def run_untraced(args, work: str, host: dict) -> tuple[dict, dict]:
    from perfbench.trace import Recorder
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed, Recorder())
    t0 = time.perf_counter()
    inputs = wl.make_inputs()
    inputs_s = time.perf_counter() - t0
    spark, setup_times = _setup(_conf(work), SETUP_REPS)
    passes, conditions = _timed_passes(spark, wl, args.seconds)
    t0 = time.perf_counter()
    problems = wl.verify(spark)
    verify_s = time.perf_counter() - t0
    _shutdown()

    cold = passes[0]
    checks = len(getattr(wl, "members", ()))
    failed = len(problems) + _failed(passes)
    attempted = checks + sum(len(p.ops) for p in passes)
    metrics = {
        "setup_s": (statistics.median(setup_times), "s"),
        "wall_s": (cold.wall, "s"),
        "peak_rss_mb": (conditions["peak_rss_mb"], "MB"),
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    details = {
        "inputs": inputs,
        "inputs_s": round(inputs_s, 3),
        "setup_times_s": [round(t, 3) for t in setup_times],
        "verify_s": round(verify_s, 3),
        "failed_op_ratio": failed / attempted,
        # the workload's own figures on the cold pass, untraced
        "headline": {k: {"value": v, "unit": u} for k, (v, u) in wl.headline([cold]).items()},
        "problems": problems,
        "conditions": conditions,
        "passes": [_pass_summary(p) for p in passes],
    }
    return result, details


SPAN_QUANTITIES = {"s": "s", "driver_s": "s", "jobs": "count", "busy_s": "s", "shuffle_mb": "MB"}


def per_layer_names() -> list[str]:
    """The per-layer metrics of a traced run, in output order."""
    from perfbench.workloads import QUERY_MIX, ROUTES

    # the agents and tags routes load one small table: they never shuffle
    names = [
        f"api.{r}.{q}" for r in ROUTES for q in SPAN_QUANTITIES
        if not (q == "shuffle_mb" and r in ("agents", "tags"))
    ]
    # the query mix is latency-bound at sf0.1: its shuffle volume is noise
    names += [f"query.{m}.{q}" for m in QUERY_MIX for q in SPAN_QUANTITIES if q != "shuffle_mb"]
    return names + [
        "enrich.gateway.calls_full", "enrich.gateway.calls_incremental",
        "enrich.gateway.busy_s",
        "sinks.writers.bytes_written_mb", "sinks.writers.write_amplification",
        "sinks.writers.files",
        "spark.tasks", "spark.gc_s", "spark.parallel_efficiency",
        "trace.overhead_s",
        "lifecycle.full_run_s", "lifecycle.incremental_run_s", "lifecycle.messages_per_s",
        "lifecycle.llm_calls_per_conversation", "lifecycle.table_bytes_per_input_byte",
    ]


def run_traced(args, work: str, host: dict) -> tuple[dict, dict]:
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    phases: dict[str, float] = {}

    def mark(phase: str) -> None:
        phases[phase] = round(time.perf_counter() - t0 - sum(phases.values()), 3)

    rec = trace.Recorder()
    wls = {name: cls(work, args.seed, rec) for name, cls in WORKLOADS.items()}
    life = wls["lifecycle"]
    inputs = {name: wl.make_inputs() for name, wl in wls.items()}
    mark("inputs")

    # session A, untraced: a cold lifecycle pass for the lifecycle.*
    # metrics, then a warm one for the tracing-overhead figure
    spark = _session(_conf(work))
    mark("setup")
    cold = life.run_pass(spark, 1)
    mark("cold_lifecycle")
    untraced = life.run_pass(spark, 2)
    mark("untraced_lifecycle")
    # session B, traced, in the same JVM: JIT and code-generation caches
    # stay as warm as they were for the untraced pass
    spark.stop()
    life.gateway = None  # its accumulators died with session A
    rec.spans.clear()
    spark = _session(_conf(work, event_log=True))
    spark.range(8).mapInPandas(lambda it: it, "id long").count()  # Python workers
    traced, wl_span = {}, {}
    for name, wl in wls.items():
        with rec.span(f"workload.{name}", run=name, leaf=False) as wl_span[name]:
            traced[name] = wl.run_pass(spark, 3)
        mark(f"traced.{name}")
    gw_stats = life.gateway.snapshot()
    problems = [x for wl in wls.values() for x in wl.verify(spark)]
    mark("verify")
    _shutdown()
    mark("shutdown")

    jobs, writes = trace.read_event_logs(os.path.join(work, "eventlog"))
    owned = trace.attribute(jobs, rec.spans)
    totals = trace.span_totals(owned)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    rec.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))

    values: dict[str, tuple[float, str]] = {}
    for name, t in totals.items():
        for q, v in t.items():
            values[f"{name}.{q}"] = (v, SPAN_QUANTITIES[q])
    for k, v in life.headline([cold]).items():
        values[f"lifecycle.{k}"] = v

    lp = traced["lifecycle"]
    api_spans = [s for s, _ in owned if s.name.startswith("api.")]
    written = sum(j.output_bytes for s, js in owned if s in api_spans for j in js)
    chosen = traced[args.workload]
    span = wl_span[args.workload]
    mine = [j for j in jobs if span.start <= j.submit <= span.end]
    values.update({
        "enrich.gateway.calls_full": (lp.extra["calls_full"], "count"),
        "enrich.gateway.calls_incremental": (lp.extra["calls_incremental"], "count"),
        "enrich.gateway.busy_s": (gw_stats["busy_s"], "s"),
        "sinks.writers.bytes_written_mb": (written / 2**20, "MB"),
        "sinks.writers.write_amplification": (written / lp.extra["table_bytes"], "ratio"),
        "sinks.writers.files": (
            sum(n for t, n in writes if any(s.start <= t <= s.end for s in api_spans)),
            "count",
        ),
        "spark.tasks": (sum(j.tasks for j in mine), "count"),
        "spark.gc_s": (sum(j.gc_s for j in mine), "s"),
        "spark.parallel_efficiency": (
            sum(j.busy_s for j in mine) / (chosen.wall * host["cores"]), "ratio"
        ),
        "trace.overhead_s": (lp.wall - untraced.wall, "s"),
    })

    all_passes = [cold, untraced, *traced.values()]
    failed = len(problems) + _failed(all_passes)
    checks = sum(len(getattr(wl, "members", ())) for wl in wls.values())
    result = {
        "correct": failed == 0,
        "attempted": checks + sum(len(p.ops) for p in all_passes),
        "failed": failed,
        "metrics": {
            k: {"value": values[k][0], "unit": values[k][1]} for k in per_layer_names()
        },
    }
    details = {
        "inputs": inputs,
        "problems": problems,
        # zero on a healthy run, so not a metric; failures also count in
        # the result line
        "gateway_failed_calls": gw_stats["failed"],
        "spill_mb": sum(j.spill_bytes for j in mine) / 2**20,
        "jobs": len(jobs),
        "jobs_by_span": {
            name: sum(1 for j in jobs if j.span == name)
            for name in sorted({j.span for j in jobs})
        },
        # seconds into a workload of jobs submitted between its calls
        "harness_jobs_inside_workloads": [
            (name, round(j.submit - s.start, 3))
            for j in jobs if j.span == trace.HARNESS
            for name, s in wl_span.items() if s.start <= j.submit <= s.end
        ],
        "conversations": {
            "full": life.main["conv_full"],
            "incremental": life.main["conv_incremental"],
        },
        "cold_wall_s": cold.wall,
        "untraced_wall_s": untraced.wall,
        "phases_s": phases,
        "passes": {k: _pass_summary(p) for k, p in traced.items()},
    }
    return result, details


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=CHOICES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        host = _configure(work)
        run = run_traced if args.trace else run_untraced
        result, details = run(args, work, host)
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
    details = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "host": host, **details}
    print(json.dumps(details, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
