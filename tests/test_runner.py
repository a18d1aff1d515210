"""runner.run_key: the cache rule (cold clears the catalog cache and
localCheckpointed RDDs, warm keeps them) and the per-phase job counts."""

from __future__ import annotations

from raster2points_spark.runner import noop, run_key
from tests.conftest import SF0001


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_cold_run_drops_what_a_persisting_key_left_cached(spark):
    spark.catalog.clearCache()  # so dedup_near builds its cache afresh
    # ids, not a count: localCheckpoint()ed RDDs of earlier keys are not
    # catalog cache and may be garbage-collected at any point meanwhile
    before = _persisted(spark)
    run_key(spark, "dedup_near", SF0001, noop, cold=False)
    cached = _persisted(spark) - before
    assert cached, "dedup_near no longer persists; pick another persisting key"
    # warm: the next run starts with the previous run's relations cached
    run_key(spark, "agg_groupby", SF0001, noop, cold=False)
    assert cached <= _persisted(spark)
    # cold: they are dropped before the key is built
    run_key(spark, "agg_groupby", SF0001, noop, cold=True)
    assert not cached & _persisted(spark)


def test_cold_run_drops_what_a_key_left_local_checkpointed(spark):
    # graph_pagerank localCheckpoint()s its ranks every round; the
    # catalog cache never lists those RDDs, so clearCache alone keeps them
    before = _persisted(spark)
    run_key(spark, "graph_pagerank", SF0001, noop, cold=False)
    left = _persisted(spark) - before
    assert left, "graph_pagerank no longer localCheckpoints; pick another key"
    run_key(spark, "agg_groupby", SF0001, noop, cold=True)
    assert not left & _persisted(spark)


def test_catalog_collect_counts_as_build_jobs(spark):
    r = run_key(spark, "raster_overview_prune", SF0001, lambda df: df.count(), cold=True)
    assert r["build_jobs"] >= 1
    assert r["exec_jobs"] >= 1
    assert r["result"] == 2


def test_lazy_key_runs_all_its_jobs_in_the_action(spark):
    r = run_key(spark, "agg_groupby", SF0001, noop, cold=True)
    assert r["build_jobs"] == 0
    assert r["exec_jobs"] >= 1
    assert r["build_s"] >= 0 and r["exec_s"] > 0
    assert r["result"] is None
