"""tools/measure.py: the shared replication helper, the case filter and
the ``scale`` command's JSON line."""
from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "measure.py")


def _measure():
    spec = importlib.util.spec_from_file_location("measure", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


measure = _measure()
SF_SMALL = os.path.join(os.path.dirname(measure.SF_DIR), "sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))


def test_replicate_multiplies_rows_with_unique_keys(docs):
    n = docs.count()
    out = measure.replicate(docs, "doc_id", 3, 10 * n, measure.token_prefix())
    assert out.count() == 3 * n
    assert out.select("doc_id").distinct().count() == 3 * n


def test_token_prefix_replicas_share_no_token_with_replica_zero(docs):
    n = docs.count()
    shift = 10 * n
    out = measure.replicate(docs, "doc_id", 3, shift, measure.token_prefix())
    tokens = out.select(
        F.floor(F.col("doc_id") / shift).alias("replica"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "").distinct()
    base = tokens.where("replica = 0").select("tok")
    others = tokens.where("replica > 0").select("tok")
    assert base.count() > 0 and others.count() > 0
    assert others.join(base, "tok").count() == 0


def test_vector_rewrite_is_deterministic(spark):
    emb = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    n = emb.count()

    def run():
        return measure.replicate(
            emb, "vec_id", 3, 10 * n,
            (measure.perturb_vectors(), measure.label_shift("label", 10)),
        )

    a, b = run(), run()
    assert a.count() == 3 * n
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # the copies are perturbed, not duplicates of replica 0
    assert a.select("embedding").distinct().count() > n


@pytest.mark.parametrize("family", sorted(measure.FAMILIES))
def test_unknown_case_exits_with_known_cases(family):
    with pytest.raises(SystemExit) as err:
        measure.main(["smoke", family, "2", "typo"])
    msg = str(err.value.code)
    assert "typo" in msg
    assert all(case in msg for case in measure.FAMILIES[family][1])


def _run(*args, **env):
    return subprocess.run(
        [sys.executable, TOOL, *args],
        cwd=REPO,
        env={**os.environ, "SPARK_DRIVER_MEMORY": "2g", **env},
        capture_output=True,
        text=True,
        timeout=900,
    )


def test_typo_case_exits_nonzero_before_spark_starts():
    res = _run("smoke", "curation", "2", "typo")
    assert res.returncode != 0
    assert "unknown case(s) ['typo']" in res.stderr
    assert "curation_scored" in res.stderr


def test_scale_command_prints_bench_scale_line():
    """Runs the four heavy members warm, at 1× and at 2× of sf0.001
    (about a minute on 4 cores)."""
    res = _run("scale", "2", SPARK_GRAFT_SF_DIR=SF_SMALL, SCALE_PROBE_REPS="1")
    assert res.returncode == 0, res.stderr[-2000:]
    line = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(line) == {
        "metric", "value", "unit", "queries", "sf", "factor", "base_sf",
        "base_queries", "ratio", "jobs", "base_jobs",
    }
    assert line["metric"] == "scale_probe_wall_sec"
    assert (line["factor"], line["base_sf"], line["sf"]) == (2, 0.001, 0.002)
    assert set(line["queries"]) == set(measure.PROBES)
    for key in ("base_queries", "ratio", "jobs", "base_jobs"):
        assert set(line[key]) == set(measure.PROBES)
    assert all(n > 0 for n in line["jobs"].values())
