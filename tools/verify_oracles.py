"""Local stand-in for the driver's correctness gate.

Runs every QUERIES entry at sf0.01 on Spark, runs the matching ORACLES SQL
on DuckDB over the same parquet, and compares column names (the oracle's
from its result schema, so an empty result is checked too), row count +
schema-width + order-insensitive values (columns sorted by name, rows sorted, exact match
for ints/strings, near-exact for doubles after the queries' own rounding).

Usage: python tools/verify_oracles.py [query ...]
"""
from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def compare(spark_rows, duck_rows, float_tol=1e-9):
    if len(spark_rows) != len(duck_rows):
        return f"ROWCOUNT spark={len(spark_rows)} duck={len(duck_rows)}"
    for i, (a, b) in enumerate(zip(spark_rows, duck_rows)):
        if len(a) != len(b):
            return f"WIDTH row {i}: {len(a)} vs {len(b)}"
        for j, (x, y) in enumerate(zip(a, b)):
            x, y = _norm(x), _norm(y)
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if x != y and abs(x - y) > float_tol * max(1.0, abs(x), abs(y)):
                    return f"VALUE row {i} col {j}: {x!r} vs {y!r}"
                continue
            if x != y:
                return f"VALUE row {i} col {j}: {x!r} ({type(x).__name__}) vs {y!r} ({type(y).__name__})"
    return None


def sort_key(row):
    return tuple(
        (v is None, str(type(v)), str(v)) for v in row
    )


def main():
    args = sys.argv[1:]
    check_all = "--all" in args
    only = set(a for a in args if a != "--all")
    if check_all:
        from mgo_liveagent_data_pipeline_spark.plans.registry import (
            ALL_ORACLES as ORACLES,
            ALL_QUERIES as QUERIES,
        )
    else:
        from mgo_liveagent_data_pipeline_spark.plans.registry import (
            ORACLES,
            QUERIES,
        )
    from mgo_liveagent_data_pipeline_spark.session import get_spark

    spark = get_spark("verify_oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    from mgo_liveagent_data_pipeline_spark.operators.dedup import (
        release_intermediates,
    )
    from mgo_liveagent_data_pipeline_spark.scratch import purge_scratch

    n_pass = n_fail = n_noracle = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            cols = sorted(sdf.columns)
            srows = [tuple(r[c] for c in cols) for r in sdf.collect()]
            release_intermediates()
            # sink queries materialize scratch tables; the result is fully
            # collected above, so reclaim the disk before the next query
            purge_scratch()
        except Exception as e:
            print(f"FAIL  {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        sql = ORACLES.get(name)
        if sql is None:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_noracle += 1
            continue
        try:
            dtab = con.execute(sql).fetch_arrow_table()
            # names from the schema, so an empty result is checked too
            dcols = sorted(dtab.column_names)
            drows = [tuple(r[c] for c in dcols) for r in dtab.to_pylist()]
        except Exception as e:
            print(f"FAIL  {name}: DUCKDB ERROR {str(e)[:300]}")
            n_fail += 1
            continue
        if dcols != cols:
            print(f"FAIL  {name}: COLS spark={cols} duck={dcols}")
            n_fail += 1
            continue
        srows.sort(key=sort_key)
        drows.sort(key=sort_key)
        err = compare(srows, drows)
        if err:
            print(f"FAIL  {name}: {err}")
            n_fail += 1
        else:
            print(f"pass  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
