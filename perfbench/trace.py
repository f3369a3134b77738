"""Spans recorded by the benchmark and Spark jobs attributed to them.

A span is one call the benchmark makes into the package (a route, a
query, a member). Spans are kept in memory — name, start, end, parent
and run id — and written out once at the end. Leaf spans never overlap,
so attributing each Spark job to the span whose interval holds the job's
submission time gives every job exactly one owner. That includes jobs
that the package submits from its own worker threads, which carry no
job-group label. Jobs submitted outside every span (set-up, output
checks) belong to the ``harness`` span.

Job facts come from Spark's JSON event log (``spark.eventLog.enabled``),
read after the session stops.
"""
from __future__ import annotations

import bisect
import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

HARNESS = "harness"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run: str | None = None
    leaf: bool = True


class Recorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, run: str | None = None, leaf: bool = True):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name,
            time.time(),
            parent=parent.name if parent else None,
            run=run or (parent.run if parent else None),
            leaf=leaf,
        )
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    span: str = HARNESS
    busy_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    tasks: int = 0


def read_event_logs(log_dir: str) -> tuple[list[Job], list[tuple[float, int]]]:
    """Jobs (with their task totals), and (start time, files written) per
    SQL execution, from every event log under ``log_dir``."""
    jobs: dict[tuple[str, int], Job] = {}
    stage_job: dict[tuple[str, int], Job] = {}
    exec_start: dict[tuple[str, int], float] = {}
    exec_files: dict[tuple[str, int], int] = {}
    file_metric_ids: set[int] = set()
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], ev["Submission Time"] / 1000)
                    jobs[(app, job.id)] = job
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault((app, sid), job)
                elif kind == "SparkListenerJobEnd":
                    jobs[(app, ev["Job ID"])].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get((app, ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.tasks += 1
                    job.busy_s += m["Executor Run Time"] / 1000
                    job.gc_s += m["JVM GC Time"] / 1000
                    job.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job.spill_bytes += m["Disk Bytes Spilled"]
                    job.output_bytes += m["Output Metrics"]["Bytes Written"]
                elif kind.endswith("SQLExecutionStart"):
                    exec_start[(app, ev["executionId"])] = ev["time"] / 1000
                    _collect_metric_ids(ev["sparkPlanInfo"], file_metric_ids)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _collect_metric_ids(ev["sparkPlanInfo"], file_metric_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    key = (app, ev["executionId"])
                    for acc_id, value in ev["accumUpdates"]:
                        if acc_id in file_metric_ids:
                            exec_files[key] = exec_files.get(key, 0) + value
    writes = [(exec_start.get(k, 0.0), n) for k, n in exec_files.items()]
    return sorted(jobs.values(), key=lambda j: j.submit), writes


def _collect_metric_ids(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m["name"] == "number of written files":
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _collect_metric_ids(child, out)


def attribute(jobs: list[Job], spans: list[Span]) -> list[tuple[Span, list[Job]]]:
    """Give each job to the leaf span whose interval holds its submission
    time; returns every leaf span with the jobs it owns."""
    owned = [(s, []) for s in sorted((s for s in spans if s.leaf), key=lambda s: s.start)]
    starts = [s.start for s, _ in owned]
    for job in jobs:
        i = bisect.bisect_right(starts, job.submit) - 1
        if i >= 0 and job.submit <= owned[i][0].end:
            job.span = owned[i][0].name
            owned[i][1].append(job)
    return owned


def span_totals(owned: list[tuple[Span, list[Job]]]) -> dict[str, dict[str, float]]:
    """Per leaf-span name, summed over its occurrences: wall ``s``,
    ``driver_s`` (wall not covered by any of its jobs), ``jobs``,
    ``busy_s`` and ``shuffle_mb``."""
    out: dict[str, dict[str, float]] = {}
    for s, mine in owned:
        t = out.setdefault(
            s.name, {"s": 0.0, "driver_s": 0.0, "jobs": 0, "busy_s": 0.0, "shuffle_mb": 0.0}
        )
        wall = s.end - s.start
        t["s"] += wall
        t["driver_s"] += wall - _covered(
            [(max(j.submit, s.start), min(j.end or s.end, s.end)) for j in mine]
        )
        t["jobs"] += len(mine)
        t["busy_s"] += sum(j.busy_s for j in mine)
        t["shuffle_mb"] += sum(j.shuffle_bytes for j in mine) / 2**20
    return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
