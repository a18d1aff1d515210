"""SparkSession factory with scale-appropriate defaults.

Local tests run ``local[N]`` single-JVM; the configs below are the
ones that also matter on a 1000-executor cluster: AQE (runtime
re-planning, skew-join splitting, partition coalescing), Arrow for
every Python<->JVM data exchange, ANSI mode kept ON (Spark 4 default,
matches DuckDB error semantics — SURVEY.md §7 R4), UTC session
timezone so timestamp results are environment-independent.  Python
workers fork from ``raster2points_spark._pydaemon``, which runs them on
the installed, byte-compiled pyspark when it is pyspark.zip's version
(spawn to first fork 1.33 -> 0.37 s) and stops every task from
re-reading pyspark.zip and the spark-core jar (~0.27 s each).

A session that creates its SparkContext also starts that worker pool
in the background (``_start_python``), so the daemon spawn and the
first fork overlap whatever the caller does next instead of delaying
its first Python job.
"""

from __future__ import annotations

import logging
import os
import threading

from pyspark import SparkContext
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

#: job group of the background job that starts the Python worker pool
START_PYTHON_GROUP = "raster2points-start-python"


def _start_python(spark: SparkSession) -> None:
    """Run a 1-row identity ``mapInArrow`` to the noop sink: it spawns
    the worker daemon, forks a worker that imports ``pyspark.worker``
    and pyarrow, and loads the JVM's Arrow runner classes.  It uses the
    SQL Arrow path because the daemon is keyed on the runner's worker
    environment: an RDD job would start a second daemon that no
    conversion uses.  Errors (a session stopped under the job, a
    missing pyarrow) are only logged at debug level: the first real
    Python job reports them."""
    try:
        from raster2points_spark.io import local_df

        spark.sparkContext.setJobGroup(START_PYTHON_GROUP, "start the Python worker pool")
        df = local_df(spark, [(0,)], "x long").mapInArrow(lambda batches: batches, "x long")
        df.write.format("noop").mode("overwrite").save()
    except Exception:
        logging.getLogger(__name__).debug("starting the Python worker pool failed", exc_info=True)


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

    When this call creates the SparkContext, a daemon thread starts the
    Python worker pool in the background (``_start_python``, job group
    ``START_PYTHON_GROUP``); a call that reuses a live context starts
    nothing.
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
    fresh = SparkContext._active_spark_context is None
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if fresh:
        threading.Thread(
            target=_start_python, args=(spark,), name=START_PYTHON_GROUP, daemon=True
        ).start()
    return spark
