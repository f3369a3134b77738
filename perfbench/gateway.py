"""Counting LLM gateway for the benchmark.

``CountingGateway`` answers exactly like the engine's ``StubGateway`` and
counts every call, the tokens it reported and the time it took, through
Spark accumulators, so calls made inside Python workers are summed on
the driver. The module is pickled by value, so workers never need to
import it from disk.
"""
from __future__ import annotations

import sys
import time

from mgo_liveagent_data_pipeline_spark.enrich.gateway import StubGateway
from pyspark import cloudpickle


class CountingGateway:
    model = StubGateway.model

    def __init__(self, sc):
        self._inner = StubGateway()
        self.calls = sc.accumulator(0)
        self.tokens = sc.accumulator(0)
        self.busy_us = sc.accumulator(0)
        self.failed = sc.accumulator(0)

    def __call__(self, prompt: str) -> tuple[str, int, str]:
        t0 = time.perf_counter()
        try:
            out = self._inner(prompt)
        except Exception:
            self.failed.add(1)
            raise
        finally:
            self.calls.add(1)
            self.busy_us.add(int((time.perf_counter() - t0) * 1e6))
        self.tokens.add(out[1])
        return out

    def snapshot(self) -> dict[str, float]:
        return {
            "calls": self.calls.value,
            "tokens": self.tokens.value,
            "busy_s": self.busy_us.value / 1e6,
            "failed": self.failed.value,
        }


cloudpickle.register_pickle_by_value(sys.modules[__name__])
