"""One loop for running a registry key, shared by ``bench.py`` and the
tools: build the key's DataFrame, run an action on it, and time and
count the Spark jobs of each phase separately.

    from raster2points_spark.runner import noop, run_key, warm

    warm(spark, sf_dir)
    r = run_key(spark, "agg_groupby", sf_dir, noop, cold=True)
    r = run_key(spark, "dedup_near", sf_dir, lambda df: df.toPandas(), cold=True)

The build phase is ``spec.fn`` (driver pre-flight: catalog collects,
persists, plan construction); the exec phase is the action.  A job
count times the ~0.2 s local-mode submission floor is the fixed-cost
part of a phase's wall time; the rest is plan compute.
"""

from __future__ import annotations

import sys
import time
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from raster2points_spark.registry import load_all


def noop(df: DataFrame) -> None:
    """Full materialization through the no-op sink: compute + shuffle,
    no driver collect."""
    df.write.format("noop").mode("overwrite").save()


def warm(spark: SparkSession, sf_dir: str) -> None:
    """Warm the JVM (codegen), the parquet reader and the Python worker
    pool so per-key numbers measure the plan, not cold start."""
    spark.range(1000).selectExpr("sum(id)").collect()
    try:
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from raster2points_spark.io import table

        table(spark, sf_dir, "lineitem").select("l_orderkey").limit(10).collect()

        @pandas_udf("double")
        def _warm(v):
            return v * 1.0

        spark.range(100).select(_warm(F.col("id").cast("double"))).collect()
    except Exception as exc:  # pragma: no cover
        print(f"runner: warmup partial: {exc}", file=sys.stderr)


def run_key(spark: SparkSession, key: str, sf_dir: str, action, cold: bool) -> dict:
    """Run registry ``key`` at ``sf_dir`` once: build its DataFrame,
    then apply ``action`` (``noop``, ``lambda df: df.count()``, ...) to
    it.

    ``cold=True`` clears the cache first, so relations a previous run
    persisted are rebuilt; ``cold=False`` keeps them, and a key that
    persists intermediates then runs on a cache hit.  Clearing the
    catalog cache leaves the RDDs that keys ``localCheckpoint()``, so a
    cold run also unpersists every RDD the context still holds.  That
    is safe only because the previous key's frames are dead: a
    localCheckpointed frame cannot be recomputed once its blocks are
    gone, so no caller, in this thread or another, may still use a
    frame an earlier call built when a ``cold`` call starts.

    Each phase runs under its own job group (job groups are per
    thread, so concurrent calls from a thread pool count apart).
    Returns ``{build_s, exec_s, build_jobs, exec_jobs, result}``;
    ``result`` is what ``action`` returned.
    """
    spec = load_all()[key]
    sc = spark.sparkContext
    if cold:
        spark.catalog.clearCache()
        for rdd in list(sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
    group = f"run_key-{key}-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(f"{group}-build", key)
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{group}-exec", key)
        result = action(df)
        t2 = time.perf_counter()
    finally:
        sc.setJobGroup(None, None)
    # the status store is fed by the async listener bus: drain it so
    # the last jobs' start events are in before the groups are read
    # (a bus still busy at its 10 s deadline only leaves counts short)
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Py4JJavaError:  # pragma: no cover
        pass
    tracker = sc.statusTracker()
    return {
        "build_s": t1 - t0,
        "exec_s": t2 - t1,
        "build_jobs": len(tracker.getJobIdsForGroup(f"{group}-build")),
        "exec_jobs": len(tracker.getJobIdsForGroup(f"{group}-exec")),
        "result": result,
    }
