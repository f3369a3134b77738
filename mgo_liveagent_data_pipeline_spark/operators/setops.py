"""Set operators (reference §2.6, E1-E4) and the run-metrics accounting
built on them (core/extract/ExtractionLogger.py:95-123).

The reference materializes both id sets on the driver and uses Python set
algebra; here they are anti/semi joins — distributed, no driver collect.
"""
from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union_all(dfs: list[DataFrame]) -> DataFrame:
    """E3: vertical concat by column name (extraction_helpers.py:218-226)."""
    return reduce(DataFrame.unionByName, dfs)


def new_vs_existing_counts(
    run: DataFrame, existing: DataFrame, key: str
) -> DataFrame:
    """ExtractionLogger.calculate_metrics: one pass, one join — tag each run
    key as new/existing and aggregate, instead of two driver-side set ops."""
    tagged = (
        run.select(key)
        .distinct()
        .join(
            existing.select(key).distinct().withColumn("__known", F.lit(1)),
            on=key,
            how="left",
        )
    )
    return tagged.agg(
        F.sum(F.when(F.col("__known").isNull(), 1).otherwise(0)).alias("n_new"),
        F.sum(F.when(F.col("__known").isNotNull(), 1).otherwise(0)).alias(
            "n_existing"
        ),
        F.count(F.lit(1)).alias("n_total"),
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Snapshot diff — the regression check between two runs of the same
    load (yesterday's table vs today's): per key, classify as ``added``
    (key only in new), ``removed`` (only in old), ``changed`` (present
    in both, ≥1 value column differs null-safely) or ``unchanged``, with
    the count of differing columns.

    ONE full-outer sort-merge join on the key — the canonical plan; both
    sides shuffle once on the key and every comparison happens in the
    merged row, so diffing two 100 TB snapshots costs the same as
    joining them. Null-safe comparison (`eqNullSafe`) means NULL→value
    and value→NULL both count as changes. Returns (``key_cols``…,
    diff_status, n_changed_cols)."""
    o = old.select(
        *key_cols,
        *[F.col(c).alias(f"__o_{c}") for c in value_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *key_cols,
        *[F.col(c).alias(f"__n_{c}") for c in value_cols],
        F.lit(1).alias("__in_new"),
    )
    j = o.join(n, key_cols, "full_outer")
    # seed with a Column: Python sum() of an EMPTY generator is int 0,
    # which breaks `.when(n_diff > 0, ...)` for the legitimate key-only
    # (value_cols=[]) added/removed diff
    n_diff = sum(
        (
            F.when(
                F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")), 0
            ).otherwise(1)
            for c in value_cols
        ),
        start=F.lit(0),
    )
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(n_diff > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    present_diff = F.when(
        F.col("__in_old").isNotNull() & F.col("__in_new").isNotNull(),
        n_diff,
    ).otherwise(F.lit(0))
    return j.select(
        *key_cols,
        status.alias("diff_status"),
        present_diff.cast("long").alias("n_changed_cols"),
    )
