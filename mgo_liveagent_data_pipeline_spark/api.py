"""Service parity layer — the reference's FastAPI surface (api/app.py:36-55,
api/logs/middleware.py:21-45, api/logs/Tracker.py:23-73) as a
framework-free dispatcher plus an optional FastAPI adapter.

The reference exposes POST routes that run pipeline stages and a tracker
that records per-route wall clock / status, surfaced at /logs /summary
/health. Here:

* ``Engine`` binds a SparkSession + table base dir and maps each route
  name to its pipeline callable (same route names as the reference).
* ``RuntimeTracker`` wraps every dispatch: start/complete/fail with wall
  clock, exposed via ``logs()`` / ``summary()`` / ``health()``.
* ``build_fastapi_app(engine)`` returns a real FastAPI app when the
  package is installed (it is not in this environment — the adapter is
  import-guarded and unit-tested through the dispatcher instead).

This layer is deliberately thin: every route body is one pipeline call,
or independent pipeline calls run concurrently (``pipelines.overlap``);
all engine behavior lives in pipelines.py and below.
"""
from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .enrich.gateway import StubGateway
from .pipelines import (
    overlap,
    read_table,
    run_agents_pipeline,
    run_convo_pipeline,
    run_logs_pipeline,
    run_message_pipeline,
    run_tags_pipeline,
    run_ticket_pipeline,
)


@dataclass
class RouteRun:
    route: str
    status: str  # running | complete | failed
    started: float
    wall_sec: float | None = None
    error: str | None = None


@dataclass
class RuntimeTracker:
    """Per-route runtime accounting (api/logs/Tracker.py:23-73)."""

    runs: list[RouteRun] = field(default_factory=list)

    def track(self, route: str, fn: Callable, *args, **kwargs):
        run = RouteRun(route=route, status="running", started=time.time())
        self.runs.append(run)
        try:
            out = fn(*args, **kwargs)
        except Exception as e:
            run.status = "failed"
            run.error = f"{type(e).__name__}: {e}"
            run.wall_sec = time.time() - run.started
            raise
        run.status = "complete"
        run.wall_sec = time.time() - run.started
        return out

    def logs(self) -> list[dict]:
        return [vars(r).copy() for r in self.runs]

    def summary(self) -> dict:
        by_route: dict[str, dict] = {}
        for r in self.runs:
            s = by_route.setdefault(
                r.route, {"n": 0, "failed": 0, "total_sec": 0.0}
            )
            s["n"] += 1
            s["failed"] += r.status == "failed"
            s["total_sec"] += r.wall_sec or 0.0
        return by_route

    def health(self) -> dict:
        failed = sum(r.status == "failed" for r in self.runs)
        return {"status": "degraded" if failed else "ok", "failed": failed}


class Engine:
    """Route dispatcher bound to a session + table directory."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        gateway: Callable[[str], tuple[str, int, str]] | None = None,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.gateway = gateway or StubGateway()
        self.tracker = RuntimeTracker()
        # same route names as the reference's scheduler order
        # (api/app.py:45-49: agents → tags → tickets → convo → logs)
        self.routes: dict[str, Callable[..., object]] = {
            "extract/process-agents": self._process_agents,
            "extract/process-tags": self._process_tags,
            "extract/process-tickets-and-messages": self._process_tickets_and_messages,
            "extract/process-convo": self._process_convo,
            "process-logs": self._process_logs,
            "fetch": self._fetch_table,
        }

    def dispatch(self, route: str, **kwargs):
        fn = self.routes.get(route)
        if fn is None:
            raise KeyError(f"unknown route: {route}")
        return self.tracker.track(route, fn, **kwargs)

    # route bodies — one pipeline call each, or overlapped independent ones
    def _process_agents(self, raw_agents: DataFrame):
        return run_agents_pipeline(self.spark, raw_agents, self.base_dir)

    def _process_tags(self, raw_tags: DataFrame):
        return run_tags_pipeline(self.spark, raw_tags, self.base_dir)

    def _process_tickets_and_messages(
        self, raw_tickets: DataFrame, raw_messages: DataFrame, now=None
    ):
        """The tickets upsert and the messages append write different
        tables, and messages read only ``agents``: the two run
        concurrently. A failing writer does not stop the other; the first
        error (tickets before messages) is raised."""

        def messages() -> str:
            agents = read_table(self.spark, self.base_dir, "agents")
            return run_message_pipeline(
                self.spark, raw_messages, agents, self.base_dir, now=now
            )

        _, path = overlap(
            lambda: run_ticket_pipeline(
                self.spark, raw_tickets, self.base_dir, now=now
            ),
            messages,
        )
        return path

    def _process_convo(self):
        messages = read_table(self.spark, self.base_dir, "messages")
        return run_convo_pipeline(
            self.spark, messages, self.gateway, self.base_dir
        )

    def _process_logs(self, run_keys: DataFrame, existing_keys: DataFrame):
        analyzed = read_table(self.spark, self.base_dir, "convo_analysis")
        return run_logs_pipeline(
            self.spark, run_keys, existing_keys, "ticket_id", analyzed,
            self.base_dir,
        )

    def _fetch_table(self, table: str, limit: int = 10):
        # allowlist like the reference (api/routes/tables.py:12-23)
        allowed = {"tickets", "messages", "agents", "tags", "convo_analysis", "logs"}
        if table not in allowed:
            raise ValueError(f"table not allowed: {table}")
        return read_table(self.spark, self.base_dir, table).limit(limit)


def build_fastapi_app(engine: Engine):  # pragma: no cover - fastapi absent
    """Optional HTTP adapter; requires fastapi to be installed."""
    try:
        from fastapi import FastAPI
    except ImportError as e:
        raise RuntimeError("fastapi is not installed in this environment") from e
    app = FastAPI()

    @app.get("/health")
    def health():
        return engine.tracker.health()

    @app.get("/logs")
    def logs():
        return engine.tracker.logs()

    @app.get("/summary")
    def summary():
        return engine.tracker.summary()

    return app
