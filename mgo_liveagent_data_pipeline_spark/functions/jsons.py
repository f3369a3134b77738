"""JSON expression library (reference op F14).

The reference json.loads'es LLM output (core/extract/ConvoDataExtract.py:126).
In Spark, a field is read with ``get_json_object`` — JVM-side, no Python.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def json_get(col: Column | str, path: str) -> Column:
    """Single-field extraction without a declared schema."""
    return F.get_json_object(_c(col), f"$.{path}")

