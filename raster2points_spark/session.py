"""SparkSession factory with scale-appropriate defaults.

Local tests run ``local[N]`` single-JVM; the configs below are the
ones that also matter on a 1000-executor cluster: AQE (runtime
re-planning, skew-join splitting, partition coalescing), Arrow for
every Python<->JVM data exchange, ANSI mode kept ON (Spark 4 default,
matches DuckDB error semantics — SURVEY.md §7 R4), UTC session
timezone so timestamp results are environment-independent.  Python
workers fork from ``raster2points_spark._pydaemon``, which runs them on
the installed, byte-compiled pyspark when it is pyspark.zip's version
(the daemon is ready ~1.2 s sooner) and stops every task from
re-reading pyspark.zip and the spark-core jar (~0.27 s each).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # deterministic, env-independent timestamps (SURVEY §7 R3)
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing + skew-join handling — free scale insurance
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for pandas UDF / toPandas — the only sane Py<->JVM path
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet ns timestamps (events.ts) must not error on read
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Python worker daemon that prefers the installed pyspark and keeps
    # unchanged zip-archive directories across tasks (see _pydaemon.py);
    # workers import the package anyway
    "spark.python.daemon.module": "raster2points_spark._pydaemon",
    "spark.sql.ui.retainedExecutions": "5",
    "spark.ui.enabled": "false",
    # managed tables (bucketed-join layouts) live in scratch, not cwd;
    # pid-suffixed like queries._util.SCRATCH so concurrent processes
    # (driver + local pytest) never race each other's table overwrites
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_SCRATCH", f"/tmp/r2p_spark_scratch_{os.getpid()}"
    )
    + "/warehouse",
}


def get_spark(
    app_name: str = "raster2points_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size this to ~2-3x total cores or let AQE coalesce
    from a higher initial value; 32 matches the test harness.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # local mode: one JVM == driver; give it headroom if available
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
    # non-blocking shuffle/broadcast cleanup: the default blocking
    # cleaner can stall task scheduling for seconds after large joins
    conf.setdefault("spark.cleaner.referenceTracking.blocking", "false")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
