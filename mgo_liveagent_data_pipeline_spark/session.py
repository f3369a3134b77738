"""SparkSession factory.

Reference counterpart: ``config/bq_config.py`` + ``core/BigQueryManager.py``
construct a BigQuery client per run; here the "engine handle" is a
SparkSession configured for columnar scale work:

* AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion) — this is what makes the same plan survive a
  100×-1000× scale-up without re-tuning.
* Arrow on — every Pandas-UDF boundary is vectorized batch transfer.
* ``spark.sql.session.timeZone=UTC`` — source timestamps are stored as
  instants; wall-clock conversion to Asia/Manila is an explicit expression
  (see functions.datetime.to_manila), never an ambient session setting.
  The reference pinned Manila globally (``config/config.py:25``); pinning
  UTC + explicit conversion keeps results machine-independent.
"""
from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

MANILA_TZ = "Asia/Manila"

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_memory(physical_bytes: int) -> str:
    """The default driver heap: 3/8 of the host's physical memory, capped
    at 48g (3/8 of a 128 GB host) and at least 1g. A fixed 48g heap can
    outgrow a small host: on a 16 GB host the JVM was lost mid-run, while
    6g (3/8 of it) passed the same run."""
    mb = min(48 * 1024, max(1024, physical_bytes * 3 // 8 // 2**20))
    return f"{mb}m"


def get_spark(
    app_name: str = "mgo_liveagent_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster set it to ~2-3× total executor cores (or leave AQE's coalescing
    to shrink an over-provisioned 2000 down to what the data needs).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # let Python DataSources (sources/rest.py) receive pushed filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # 128 MB input splits: right-sized tasks at any SF.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or driver_memory(
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on every python worker regardless of
    the driver's cwd (addPyFile zip). Without this, any mapInPandas /
    applyInPandas stage whose closure references package symbols dies with
    ModuleNotFoundError on a non-local deployment — and locally whenever
    the driver isn't started from the repo root."""
    if spark.conf.get("spark.mgo.pkgShipped", None) == "1":
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="mgo_pipeline_pkg_")
    os.close(fd)
    # the zip is read by addPyFile (workers fetch a copy); reclaim it at exit
    import atexit

    atexit.register(lambda p=zpath: os.path.exists(p) and os.remove(p))
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    spark.conf.set("spark.mgo.pkgShipped", "1")
