"""Physical-plan regression tests: the scale properties (pushdown,
pruning, broadcast, shuffle-freedom) are asserted, not assumed — a
refactor that silently loses one of them fails here, not at 100 TB."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF001


from raster2points_spark.plans import explain_formatted


def _formatted_plan(spark, df) -> str:
    return explain_formatted(df)


def test_star_join_broadcasts_all_dims(spark, registry):
    plan = _formatted_plan(spark, registry["join_broadcast_star"].fn(spark, SF001))
    assert plan.count("BroadcastHashJoin") >= 4, "every dim must broadcast"
    assert "SortMergeJoin" not in plan, "no dim should shuffle-join"


def test_filter_pushdown_reaches_scan(spark, registry):
    plan = _formatted_plan(spark, registry["agg_groupby"].fn(spark, SF001))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark, registry):
    plan = _formatted_plan(spark, registry["agg_groupby"].fn(spark, SF001))
    # lineitem has 11 columns; the Q1 shape needs 7 — the scan must not
    # read the join keys it doesn't use
    readschema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert readschema, "no ReadSchema in plan"
    assert "l_orderkey" not in readschema[0]
    assert "l_partkey" not in readschema[0]


def test_bucketed_join_is_shuffle_free(spark, registry):
    df = registry["join_bucketed"].fn(spark, SF001)
    plan = _formatted_plan(spark, df)
    assert "Exchange" not in plan, "bucketed join+agg must not shuffle"


def test_knn_probes_are_broadcast(spark, registry):
    plan = _formatted_plan(spark, registry["sim_knn"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_knn_topk_is_two_phase(spark, registry):
    # The final per-probe rank must see only the O(P·k) survivors of a
    # per-(probe, pmod-bucket) prune — a single-phase
    # row_number() OVER (PARTITION BY probe_id) funnels the whole
    # corpus into |probes| tasks at 100 TB.  The prune is size-gated
    # (r6): pin BOTH sides — forced-on shows the two-phase plan, and
    # the registered toy-scale key must NOT pay the extra window.
    from raster2points_spark.queries.llm import _knn_pairs

    plan = _formatted_plan(spark, _knn_pairs(spark, SF001, force_prune=True))
    assert plan.count("Window") >= 2, "expect bucket-prune window + final window"
    assert "pmod" in plan, "phase-1 prune must bucket on pmod(vec_id, P)"
    # phase-1 partitions on (probe_id, bkt); phase-2 on probe_id alone
    assert "bkt" in plan
    toy = _formatted_plan(spark, registry["sim_knn"].fn(spark, SF001))
    assert "pmod" not in toy, "toy-scale corpus must skip the prune window"


def test_simhash_has_no_aggregation_shuffle(spark, registry):
    # SimHash is a pure projection pipeline: the only Exchange allowed
    # is the size-gated local fan-out (round-robin), never a hash
    # repartition for a groupBy — the v1 explode→distinct→groupBy
    # shape cost two corpus shuffles.
    plan = _formatted_plan(spark, registry["dedup_simhash"].fn(spark, SF001))
    assert "hashpartitioning" not in plan, "simhash must not hash-shuffle"


def test_minhash_signatures_have_no_token_shuffle(spark, registry):
    # Signatures are per-row array_min(transform(...)) projections over
    # a persisted relation; candidate verify intersects shingle arrays
    # in-row.  No Generate(explode) of the token stream may appear.
    plan = _formatted_plan(spark, registry["dedup_near"].fn(spark, SF001))
    assert "array_intersect" in plan, "verify must intersect arrays in-row"
    assert "InMemoryTableScan" in plan, "signature subplan must be persisted"
    assert "explode" not in plan, "no token-level explode in minhash plan"


def _analyzed_plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_tfidf_counts_in_row(spark, registry):
    # Term counts fold the row's own token array; the only aggregation
    # shuffles left are the df (distinct-word) side and the one-row
    # corpus count.
    df = registry["text_tfidf"].fn(spark, SF001)
    plan = _formatted_plan(spark, df)
    assert "InMemoryTableScan" in plan
    # v1 had four aggregations (tf, dlen, df via countDistinct, nd)
    # over the exploded token stream; v2 keeps two (df + the corpus
    # count).  "formatted" lists each node twice (tree + detail) and
    # each agg is partial+final → 2 aggs ≤ 8 mentions.
    assert plan.count("HashAggregate") <= 8
    # Scale guard (r2): the vocabulary join must NOT carry a broadcast
    # hint — at 100 TB the term→df table exceeds broadcast size.  The
    # only hinted broadcast allowed is the one-row corpus count.
    analyzed = _analyzed_plan(df)
    assert analyzed.count("ResolvedHint") == 1, "only the 1-row nd count may be hinted"


def test_jaccard_has_no_per_doc_broadcast(spark, registry):
    # Scale guard (r2): no broadcast hint anywhere — the sizes relation
    # is one row PER DOCUMENT and must stay a shuffle join (AQE demotes
    # to broadcast at small scale on its own).
    df = registry["dedup_jaccard"].fn(spark, SF001)
    assert "ResolvedHint" not in _analyzed_plan(df)
    # and the df-capped inverted index must still be an equi self-join
    plan = _formatted_plan(spark, df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_embed_blocks_on_lsh_bucket(spark, registry):
    # Scale guard (r2, dynamic-width r7): candidate pairs come from an
    # equi-join on the sign-random-projection bucket — never a
    # cross/theta join over the corpus.  The ONLY nested-loop join
    # allowed is the 1-row corpus-count broadcast that derives the
    # dynamic band width (allowlisted with review text in plan_lint);
    # a second one would mean a per-vector relation got cross-joined.
    df = registry["dedup_embed"].fn(spark, SF001)
    plan = _formatted_plan(spark, df)
    # count PHYSICAL instances via the detail headers "(N) BroadcastNested…"
    # — the static plan shows the 1-row scalar broadcast once per
    # self-join side (AQE's exchange reuse collapses them at runtime);
    # a third instance would mean a per-vector relation got crossed.
    import re

    instances = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(instances) <= 2
    assert "CartesianProduct" not in plan
    assert "bucket" in plan, "join key must be the LSH bucket"


def test_partition_pruning_on_sink(spark, registry):
    registry["sink_partitioned"].fn(spark, SF001)  # materialize the layout
    import os

    from raster2points_spark.queries._util import SCRATCH

    path = os.path.join(SCRATCH, "sink_partitioned")
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    plan = _formatted_plan(spark, df)
    assert "PartitionFilters" in plan
    assert "l_returnflag" in plan.split("PartitionFilters", 1)[1][:200]


def test_interval_bucketed_is_equi_join(spark, registry):
    # The whole point of the bucketed variant: the range condition is a
    # post-filter on an EQUI join (user, hour-bucket), never a nested-
    # loop scan of all user pairs.
    plan = _formatted_plan(spark, registry["join_interval_bucketed"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_subqueries_are_decorrelated(spark, registry):
    # Catalyst must rewrite correlated EXISTS/IN/scalar-agg subqueries
    # into joins — a per-outer-row subquery execution cannot scale.
    for key, marker in (
        ("subq_exists", "LeftSemi"),
        ("subq_in", "LeftSemi"),
        ("subq_scalar", "Join"),
    ):
        plan = _formatted_plan(spark, registry[key].fn(spark, SF001))
        assert marker in plan, f"{key}: expected {marker} after decorrelation"
        assert "CartesianProduct" not in plan


def test_aqe_broadcasts_unhinted_vocab_at_small_scale(spark, registry):
    # The r2 de-broadcast claim in full: text_tfidf's vocabulary join
    # carries NO hint (asserted above), yet at small scale AQE still
    # executes it as a broadcast join at runtime.  Both halves matter —
    # the plan scales AND small runs pay no shuffle.
    df = registry["text_tfidf"].fn(spark, SF001)
    df.count()  # materialize so AQE finalizes the adaptive plan
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in executed
    assert "BroadcastHashJoin" in executed, "AQE should broadcast the tiny df side"


def test_rollup_cascade_aggregates_twice(spark, registry):
    # Two levels of aggregation (hourly then daily), each partial+final,
    # and the daily level must consume the hourly output - not rescan
    # the events source (exactly one parquet scan in the plan).
    plan = _formatted_plan(spark, registry["agg_rollup_cascade"].fn(spark, SF001))
    tree = plan.split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 1
    assert tree.count("HashAggregate") == 4  # 2 levels x (partial+final)


def test_gopher_rules_is_pure_projection(spark, registry):
    # quality gating must fuse into the scan: no hash shuffle, no sort
    plan = _formatted_plan(spark, registry["text_gopher_rules"].fn(spark, SF001))
    assert "hashpartitioning" not in plan
    assert "Sort " not in plan


def test_pack_sequences_has_no_global_sort(spark, registry):
    # the cumsum window must partition by source shard — a global
    # (range-partitioned) sort would serialize 100 TB through one task
    plan = _formatted_plan(spark, registry["pack_sequences"].fn(spark, SF001))
    assert "rangepartitioning" not in plan, "global sort leaked into packing"
    assert "hashpartitioning(source" in plan, "window must shard by source"


def test_sample_mixture_broadcasts_counts(spark, registry):
    # per-source counts (|sources| rows) join back via broadcast; the
    # corpus side must never shuffle for the join
    plan = _formatted_plan(spark, registry["sample_mixture"].fn(spark, SF001))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aqe_splits_skewed_join_partition(spark):
    """Evidence that the session's skew-join insurance actually
    engages: a 75%-hot key joined without broadcast must execute as
    SortMergeJoin(skew=true) with an 'AQEShuffleRead … skewed' read —
    AQE split the hot partition into parallel subtasks at runtime.
    (join_salted is the manual mitigation; this pins the automatic
    one.)  Thresholds are lowered to make 400k local rows 'skewed' and
    restored afterwards — at real scale the defaults fire unmodified.
    """
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
    }
    prev = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(0, 400_000).select(
            F.when(F.col("id") < 300_000, 0)
            .otherwise((F.col("id") % 99) + 1)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 400_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed partition"
        assert "skewed" in plan, "no skewed AQEShuffleRead in final plan"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_spatial_join_is_equi_join(spark, registry):
    # the whole point of grid bucketing: containment becomes an
    # equi-join — a nested-loop or cartesian plan means the bucketing
    # regressed to predicate-matching
    plan = _formatted_plan(spark, registry["spatial_join_grid"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_train_ready_pipeline_shuffle_budget(spark, registry):
    # gate fused into the scan, then dedup window + tiny counts agg +
    # packing window — and NEVER a global (range) sort
    plan = _formatted_plan(spark, registry["pipeline_train_ready"].fn(spark, SF001))
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan.count(
        "Exchange hashpartitioning"
    )


@pytest.mark.skipif(
    __import__("os").environ.get("SPARK_GRAFT_SF01_TESTS") != "1",
    reason="sf0.1 evidence run; set SPARK_GRAFT_SF01_TESTS=1 (committed report: reports/aqe_skew_sf0.1.txt)",
)
def test_join_salted_matches_plain_and_aqe_splits_at_sf01(spark, registry):
    """Heavy-corpus (sf0.1) evidence, two claims:

    1. join_salted's aggregated result is row-identical to the plain
       unsalted join on the real 600k-row lineitem — salting changes
       only physical distribution, never values.
    2. With a genuinely hot key (75% of lineitem mapped to one supplier)
       and broadcast disabled, AQE's skew-join split fires on the real
       corpus, not just the 400k synthetic rows of the sf0.01 test.
    """
    from pyspark.sql import functions as F

    from raster2points_spark.queries._util import t

    SF01 = "/root/testdata/sf0.1"

    salted = registry["join_salted"].fn(spark, SF01)
    li = t(spark, SF01, "lineitem")
    sup = t(spark, SF01, "supplier")
    plain = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )
    got = {(r.l_suppkey, r.n, r.sum_price) for r in salted.collect()}
    want = {(r.l_suppkey, r.n, r.sum_price) for r in plain.collect()}
    assert got == want and len(got) > 0

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
    }
    prev = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        hot = li.select(
            F.when(F.rand(42) < 0.75, F.lit(1))
            .otherwise(F.col("l_suppkey"))
            .alias("k"),
            "l_extendedprice",
        )
        dim = sup.select(F.col("s_suppkey").alias("k"), "s_name")
        # The fact side must pass through an upstream shuffle first:
        # AQE splits a skewed reduce partition at MAPPER boundaries,
        # and the local sf0.1 parquet is a single row group — every
        # scan split but one is empty, so a scan-fed exchange has ONE
        # real mapper and nothing to split (verified empirically; a
        # real 100 TB corpus has thousands of row groups, so the
        # scan-fed case splits fine there).  repartition(32) is the
        # honest stand-in for "fact side arrives from a prior stage".
        j = hot.repartition(32).join(dim, "k").select("k", "l_extendedprice")
        # materialize THIS DataFrame (not a derived count) so its own
        # AQE plan finalizes; Arrow path keeps the 600k-row fetch cheap
        assert len(j.toPandas()) > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the hot partition at sf0.1"
        assert "skewed" in plan, "no skewed AQEShuffleRead at sf0.1"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_embed_normalize_is_pure_projection(spark, registry):
    # norms/unit checks must pipeline inside the scan stage — any
    # Exchange means the fold escaped the row
    plan = _formatted_plan(spark, registry["embed_normalize"].fn(spark, SF001))
    assert "Exchange" not in plan, "embed_normalize must not shuffle"


def test_sample_reservoir_is_take_ordered(spark, registry):
    # the k=100 deterministic sample must plan as a distributed partial
    # top-k, never a full global sort
    plan = _formatted_plan(spark, registry["sample_reservoir"].fn(spark, SF001))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan, "global sort leaked into sampling"


def test_heavy_hitters_broadcasts_total(spark, registry):
    # the 1-row corpus count joins via broadcast; the token counts side
    # must be the only hash shuffle
    plan = _formatted_plan(spark, registry["text_heavy_hitters"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_sessionize_single_exchange(spark, registry):
    # lag window, cumsum window and the session rollup all key on
    # user_id; HashPartitioning(user_id) satisfies the groupBy's
    # ClusteredDistribution(user_id, session_no) so EnsureRequirements
    # must not add a second shuffle of the event stream
    plan = _formatted_plan(spark, registry["sessionize_batch"].fn(spark, SF001))
    assert plan.count("Arguments: hashpartitioning") == 1


def test_rle_single_exchange(spark, registry):
    # both row_number windows and the run rollup share the user_id
    # exchange (partition keys are a prefix of every clustering)
    plan = _formatted_plan(spark, registry["rle_events"].fn(spark, SF001))
    assert plan.count("Arguments: hashpartitioning") == 1


def test_anomaly_mad_never_shuffles_events(spark, registry):
    # the per-type median/MAD tables broadcast back onto the stream;
    # the only exchanges allowed are the two tiny |types|-row aggregates
    plan = _formatted_plan(spark, registry["anomaly_mad"].fn(spark, SF001))
    assert "SortMergeJoin" not in plan, "stats join must broadcast"
    assert plan.count("BroadcastHashJoin") >= 2


def test_join_dpp_prunes_partitions(spark, registry):
    # the join-derived month filter must reach the fact scan as a
    # dynamic partition filter — scan cost ∝ dim selectivity, not
    # fact size
    plan = _formatted_plan(spark, registry["join_dpp"].fn(spark, SF001))
    assert "dynamicpruningexpression" in plan


def test_unpivot_is_zero_shuffle(spark, registry):
    # wide→long must expand pipelined inside the scan stage (ONE read
    # of the fact table), never via a union of per-measure scans
    plan = _formatted_plan(spark, registry["reshape_unpivot"].fn(spark, SF001))
    assert "Exchange" not in plan
    assert "Expand" in plan
    assert plan.count("Location: InMemoryFileIndex") == 1, "fact must be scanned once"


def test_lateral_is_decorrelated_group_limit(spark, registry):
    # the per-nation LIMIT 2 subquery must decorrelate into a
    # WindowGroupLimit (map-side partial top-k, one exchange) under a
    # broadcast join — never a re-executed per-row probe
    plan = _formatted_plan(spark, registry["join_lateral"].fn(spark, SF001))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q3_topk_and_broadcast(spark, registry):
    # the LIMIT 10 must plan as TakeOrderedAndProject (partition-local
    # top-k) and the filtered customer dim must broadcast — no
    # SortMergeJoin, no global sort
    plan = _formatted_plan(spark, registry["tpch_q3"].fn(spark, SF001))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q18_semi_join_gate(spark, registry):
    # the HAVING survivor set must gate orders via LeftSemi (no row
    # duplication before the final rollup)
    plan = _formatted_plan(spark, registry["tpch_q18"].fn(spark, SF001))
    assert "LeftSemi" in plan


def test_tpch_q6_pushdown_and_minimal_shuffle(spark, registry):
    # Q6 is the scan-kernel query: all three predicates must reach the
    # parquet scan, and the plan must contain NO join and no exchange
    # other than the 1-row aggregate merge
    df = registry["tpch_q6"].fn(spark, SF001)
    plan = _formatted_plan(spark, df)
    assert "PushedFilters: [" in plan and "IsNotNull(l_shipdate)" in plan
    assert "Join" not in plan
    # the only exchange is the 1-row final merge — no key shuffle
    assert "hashpartitioning" not in plan


def test_tpch_q10_topk_no_global_sort(spark, registry):
    # LIMIT 20 with tiebreak must plan as TakeOrderedAndProject and the
    # nation dim must broadcast
    plan = _formatted_plan(spark, registry["tpch_q10"].fn(spark, SF001))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q13_preserves_outer_join(spark, registry):
    # the priority exclusion sits in the join condition — Catalyst must
    # NOT convert the LeftOuter to Inner (zero-order customers are the
    # point of Q13), and the k=0 group must survive to the result
    plan = _formatted_plan(spark, registry["tpch_q13"].fn(spark, SF001))
    assert "LeftOuter" in plan
    rows = {r["c_count"]: r["custdist"] for r in registry["tpch_q13"].fn(spark, SF001).collect()}
    assert 0 in rows and rows[0] > 0


def test_bilinear_resample_is_equi_join(spark, registry):
    # resampling must plan as a hash join on (col, row) — a BNLJ or
    # cartesian between target cells and pixels is the spatial-join
    # anti-pattern the corner-explode design exists to avoid
    plan = _formatted_plan(spark, registry["raster_resample_bilinear"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_assignment_broadcasts_centroids(spark, registry):
    # the assignment crossJoin must resolve against a BROADCAST of the
    # k-row centroid relation — a shuffle join there would co-partition
    # the corpus with an 8-row table every iteration
    plan = _formatted_plan(spark, registry["ml_kmeans_lloyd"].fn(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_loo_encoding_category_join_unhinted(spark, registry):
    # the category-stats join-back must NOT carry a broadcast hint: at
    # 100 TB a high-cardinality categorical outgrows executors.  AQE
    # may still runtime-broadcast at toy scale — assert no *static*
    # broadcast by checking the logical intent survives as a join, and
    # no cartesian/BNLJ appears.
    df = registry["feature_loo_encoding"].fn(spark, SF001)
    plan = _formatted_plan(spark, df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ewma_window_runs_over_bars_not_events(spark, registry):
    # the range-frame window must sort the pre-aggregated hourly bar
    # relation: a HashAggregate must appear BELOW the Window in the
    # plan (events collapse map-side first)
    plan = _formatted_plan(spark, registry["ts_ewma"].fn(spark, SF001))
    assert "Window" in plan and "HashAggregate" in plan


def test_sentence_split_is_shuffle_free(spark, registry):
    # pure in-row array work: the only Exchange allowed is the
    # size-gated toy-corpus fan-out repartition (t_fanout)
    plan = _formatted_plan(spark, registry["text_sentence_split"].fn(spark, SF001))
    # formatted plans print each node twice (tree line + detail block),
    # so ONE physical Exchange node == 2 string hits
    assert plan.count("Exchange") <= 2
    assert "Window" not in plan and "SortMergeJoin" not in plan


def test_shuffle_shards_single_exchange(spark, registry):
    # shard assignment + within-shard position = ONE
    # hashpartitioning(shard) exchange feeding the sort window —
    # the repartition(shard).sortWithinPartitions write path
    plan = _formatted_plan(spark, registry["shuffle_shards"].fn(spark, SF001))
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_boilerplate_joinback_unhinted(spark, registry):
    # the chunk-df relation joins back on (source, chunk) with NO
    # broadcast hint in the analyzed plan — at 100 TB the boilerplate
    # set must be allowed to shuffle; AQE broadcasts when small
    df = registry["text_boilerplate"].fn(spark, SF001)
    assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()


def test_ohlc_is_single_hash_aggregate(spark, registry):
    # the bigint-packed argmin/argmax key must keep the aggregate
    # HASH-based: no SortAggregate, no window, one key exchange
    plan = _formatted_plan(spark, registry["ts_ohlc"].fn(spark, SF001))
    assert "SortAggregate" not in plan
    assert "Window" not in plan
    assert plan.count("Arguments: hashpartitioning") == 1


def test_auc_window_is_over_collapsed_axis(spark, registry):
    # the cumulative window must consume the per-score AGGREGATE (its
    # child chain contains the HashAggregate), so the single-partition
    # exchange carries |distinct scores| rows, never the corpus
    plan = _formatted_plan(spark, registry["ml_auc_roc"].fn(spark, SF001))
    assert "Window" in plan and "HashAggregate" in plan
    w = plan.index("Window")
    assert "HashAggregate" in plan[w:], "window must sit above the per-score aggregate"
    assert "SinglePartition" in plan


def test_multi_distinct_plans_as_expand(spark, registry):
    # two DISTINCTs + plain aggs must rewrite via Expand into one
    # two-level aggregation — never N self-joined subqueries
    plan = _formatted_plan(spark, registry["agg_multi_distinct"].fn(spark, SF001))
    assert "Expand" in plan
    assert "Join" not in plan


def test_merge_hint_reaches_planner(spark, registry):
    # nation is broadcastable; the MERGE hint must still force a
    # SortMergeJoin — proving hints survive analysis into planning
    plan = _formatted_plan(spark, registry["join_strategy_hints"].fn(spark, SF001))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_sql_udf_inlines_into_codegen(spark, registry):
    # SQL UDFs are macro-expanded by the analyzer: no Python worker in
    # the plan, and the is_bulk() predicate must still reach the scan
    plan = _formatted_plan(spark, registry["fn_sql_udf"].fn(spark, SF001))
    assert "BatchEvalPython" not in plan
    assert "GreaterThanOrEqual(l_quantity,30.0)" in plan or "l_quantity" in plan.split("PushedFilters", 1)[1][:200]


def test_bloom_runtime_filter_injected(spark, registry):
    # the scoped newSession must actually trigger InjectRuntimeFilter:
    # the fact-side scan carries a bloom probe, and the parent
    # session's thresholds stay at their cluster-sane defaults
    plan = _formatted_plan(spark, registry["join_bloom_runtime"].fn(spark, SF001))
    assert "bloom_filter" in plan or "mightContain" in plan, plan[:500]
    assert (
        spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        != "0"
    )


def test_skyline_never_materializes_pairs(spark, registry):
    # the scalable decomposition: no CartesianProduct / BNLJ — the
    # dominance test must be the broadcast join-back, not all-pairs
    plan = _formatted_plan(spark, registry["skyline_pareto_front"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_pandas_iter_udf_is_arrow_not_row_python(spark, registry):
    plan = _formatted_plan(spark, registry["udf_pandas_iter"].fn(spark, SF001))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_tpch_q1_is_two_level_hash_agg_no_sort(spark, registry):
    # the full-scan wide agg: partial+final HashAggregate, no Sort,
    # no rangepartitioning (presentation order dropped by design)
    plan = _formatted_plan(spark, registry["tpch_q1"].fn(spark, SF001))
    assert plan.count("HashAggregate") >= 2
    assert "rangepartitioning" not in plan.lower()


def test_bm25_is_zero_explode_scan_and_score(spark, registry):
    # late-r7 shape: with a FIXED 3-term query, per-doc tf is an
    # array kernel (size(filter(tokens, = w))) and dl is size(tokens)
    # — NO token explode, no wide shuffle of token rows.  The only
    # relations are the persisted per-doc projection, a 1-row
    # broadcast stats aggregate, and TakeOrderedAndProject.
    plan = _formatted_plan(spark, registry["text_bm25"].fn(spark, SF001))
    assert "Generate" not in plan, "bm25 must not explode the token stream"
    assert "InMemoryTableScan" in plan, "the (dl, tf*) projection must be persisted"
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_cms_counter_shuffle_is_bounded(spark, registry):
    # the counter build must partial-aggregate map-side: a HashAggregate
    # below the Exchange, so the wire carries <= d x w partials
    plan = _formatted_plan(spark, registry["agg_count_min_sketch"].fn(spark, SF001))
    import re

    # every Exchange hashpartitioning feeding the counters is preceded
    # (plan-below) by a partial HashAggregate
    assert "partial_count" in plan or "Functions [1]: [partial_count" in plan


def test_hierarchy_closure_is_in_row_no_join(spark, registry):
    # the ancestor closure must come from Generate (explode of the
    # in-row shiftright transform), never a recursive/self join
    plan = _formatted_plan(spark, registry["hierarchy_rollup"].fn(spark, SF001))
    assert "Generate" in plan
    assert "Join" not in plan


def test_naive_bayes_single_corpus_explode(spark, registry):
    # late-r7 shape: the (doc, lang, token) tf relation is built by ONE
    # corpus explode and PERSISTED; model/totals/vocab derive from it by
    # further aggregation (the v1 plan re-ran the explode 4x — Spark
    # shares no physical subtrees across DataFrame refs).  r13 adds a
    # SECOND legitimate Generate: the in-row |langs| candidate fan-out
    # (posexplode of the per-word score array) that replaced the
    # pre-join crossJoin with totals.  So: exactly the two numbered
    # Generate NODES, no more — a re-planned corpus explode would show
    # as a third.
    plan = _formatted_plan(spark, registry["ml_naive_bayes"].fn(spark, SF001))
    assert "InMemoryTableScan" in plan, "the doc_tf spine must be persisted"
    n_nodes = len(re.findall(r"^\(\d+\) Generate", plan, re.M))
    assert n_nodes <= 2, "corpus explode must not be re-planned per consumer"


def test_tpch_q16_has_no_pre_distinct_shuffle(spark, registry):
    # the oracle's DISTINCT supply CTE must NOT appear as its own
    # aggregate: count(DISTINCT suppkey) already dedupes (group,
    # suppkey) pairs map-side in its partial phase.  A reintroduced
    # pre-distinct adds one HashAggregate pair (+4 formatted mentions)
    # and a full extra Exchange of the fact projection.
    plan = _formatted_plan(spark, registry["tpch_q16"].fn(spark, SF001))
    assert plan.count("HashAggregate") <= 8, "only the count-distinct agg chain may aggregate"
    assert "TakeOrderedAndProject" in plan


def test_tpch_q2_distinct_runs_after_part_prune(spark, registry):
    # the supply dedup must key on the POST-JOIN columns (p_partkey,
    # p_type, l_suppkey) — proof the (size, type) part filter pruned
    # the fact rows BEFORE the distinct shuffle.  A raw
    # (l_partkey, l_suppkey) distinct means the whole fact table was
    # content-keyed first (the v1 plan).
    plan = _formatted_plan(spark, registry["tpch_q2"].fn(spark, SF001))
    key_lines = [
        l for l in plan.splitlines() if "Keys" in l and "l_suppkey" in l
    ]
    assert key_lines, "no distinct aggregate over l_suppkey found"
    assert any("p_partkey" in l for l in key_lines), (
        "distinct must run on the part-pruned join output, not raw lineitem"
    )


def test_sim_ivf_search_is_cluster_pruned_equi_join(spark, registry):
    # The IVF search must reach candidates through an EQUI-join on the
    # assigned cluster id (assign ⋈ probes ON cid) — the structural
    # guarantee that a probe scans only its nprobe clusters, never the
    # corpus.  A refactor that degrades this to a cartesian-with-filter
    # re-introduces the n·P all-pairs scan IVF exists to avoid.  The
    # only Cross joins allowed are the broadcast 1-row scalar joins
    # (k/stride parameters).
    plan = _formatted_plan(spark, registry["sim_ivf"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "Left keys [1]: [cid#" in plan, "candidate search must equi-join on cid"
    assert "SortMergeJoin" not in plan, (
        "toy-scale IVF joins are all broadcast; an SMJ here means a "
        "corpus-sized relation leaked into the parameter plumbing"
    )


def test_embed_pq_encode_and_adc_fold_in_row(spark, registry):
    # r15: encode and ADC fold IN-ROW against two broadcast 1-row
    # relations (the sorted codebook array and the probe vector) — the
    # corpus is never posexploded (no Generate), the per-(vec, m)
    # argmin needs no Window, and the only joins are the two
    # constant-size broadcast crossJoins.  Top-10 must stay
    # TakeOrderedAndProject, never a global sort.
    plan = _formatted_plan(spark, registry["embed_pq"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Generate" not in plan, "corpus must not be exploded for encode"
    assert "Window" not in plan, "argmin folds in-row, no window shuffle"
    # tree lines only (the numbered detail section repeats each node)
    assert plan.count("BroadcastNestedLoopJoin Cross BuildRight") == 2, (
        "exactly the two 1-row broadcasts (codebook array, probe vector)"
    )
    assert "TakeOrderedAndProject" in plan


def test_semantic_cluster_prune_is_equi_join_on_cluster(spark, registry):
    # SemDeDup's pair space is bounded ONLY because the prune
    # self-join is an equi-join on (cid, salt): Σ|cluster|² ≈ n·cap,
    # never n².  The salt key is the overflow-split guard — losing it
    # from the join keys silently re-merges mega-clusters and the
    # pair space reverts to Σ|c|² over unsplit skew.
    import re

    plan = _formatted_plan(spark, registry["dedup_semantic_cluster"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert re.search(r"Left keys \[2\]: \[cid#\d+L?, salt#", plan), (
        "prune self-join must key on (cid, salt)"
    )


def test_sim_mips_is_broadcast_scan_with_group_limit(spark, registry):
    # MIPS via norm augmentation keeps sim_knn's scan shape: probes
    # broadcast against one linear pass over the corpus (the BNLJ is
    # the deliberate brute-force baseline), and the per-probe top-10
    # must be pushed down as WindowGroupLimit so each partition keeps
    # 10 rows per probe before the rank shuffle — not funneled through
    # a single global sort.
    plan = _formatted_plan(spark, registry["sim_mips"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_iterative_loops_truncate_lineage(spark, registry):
    # Every fixed-point/fixed-count DataFrame loop must checkpoint per
    # round (SCALE.md §6): without truncation the logical plan grows
    # with iteration count — per-round analysis cost compounds, and at
    # real depth the driver ooms on plan trees before an executor
    # touches data.  The FINAL returned plan therefore must read from
    # the checkpointed relation (Scan ExistingRDD) and stay shallow —
    # a few post-loop ops, never the unrolled per-round join tree
    # (sample_kcenter's 515-line plan is the deepest legitimate
    # post-loop shape; an unrolled loop is thousands of lines).
    for key in (
        "ml_kmeans_lloyd",
        "embed_power_iteration",
        "sample_kcenter",
        "raster_region_label",
        "raster_flow_accumulation",
        "graph_shortest_hops",
        "graph_pagerank",
        "dedup_components",
    ):
        plan = _formatted_plan(spark, registry[key].fn(spark, SF001))
        assert "ExistingRDD" in plan, f"{key}: final plan lost its checkpoint"
        n = len(plan.splitlines())
        assert n < 1000, f"{key}: {n}-line final plan — loop lineage unrolled?"


def test_dedup_near_candidates_join_on_full_band(spark, registry):
    # LSH candidate generation must be an EQUI-join on
    # (band_idx, band_val) with only the doc_id ordering as residual —
    # the structural guarantee that pairs exist only inside a band
    # bucket.  Degrading to a theta-join (e.g. band_val equality moved
    # into the residual) re-plans as a cartesian at scale.  The
    # signature relation must also be persisted: the md5-heavy subplan
    # feeds four consumers (two band sides + two verify fetches).
    plan = _formatted_plan(spark, registry["dedup_near"].fn(spark, SF001))
    assert "CartesianProduct" not in plan
    assert "Left keys [2]: [band_idx#" in plan, (
        "candidate join must be equi on (band_idx, band_val)"
    )
    assert "InMemoryRelation" in plan, "signature relation must be persisted"


def test_raster_stencils_single_aggregate_shuffle(spark, registry):
    # The focal-mean / slope stencils scatter each valid pixel to its
    # k neighborhood centers and gather with ONE partial-aggregated
    # shuffle (SCALE.md §"shuffle budget"): exactly one
    # hash-partitioning Exchange, fed by a map-side partial
    # HashAggregate — never a self-join of the pixel relation per
    # neighbor offset, and never a second shuffle.
    for key in ("raster_focal_mean", "raster_slope"):
        plan = _formatted_plan(spark, registry[key].fn(spark, SF001))
        assert plan.count("+- Exchange (") == 1, f"{key}: stencil must shuffle once"
        assert "partial_" in plan, f"{key}: aggregate must map-side combine"
        assert "CartesianProduct" not in plan


def test_salted_twophase_agg_shape(spark, registry):
    # The skew-safe aggregate must be the literal two-phase plan:
    # phase 1 partial+final on (key, salt) behind one Exchange, phase
    # 2 re-aggregate on the bare key behind a second — the salt
    # expression visible in phase-1 keys and absent from phase-2.
    plan = _formatted_plan(spark, registry["agg_salted_twophase"].fn(spark, SF001))
    assert plan.count("+- Exchange (") == 2
    assert "Keys [2]: [o_orderpriority" in plan, "phase 1 must key on (key, salt)"
    assert "Keys [1]: [o_orderpriority" in plan, "phase 2 must key on the bare key"


def test_asof_family_is_one_shuffle_zero_join(spark, registry):
    # The as-of family plans as union + per-key LOCF window — ZERO
    # joins and exactly ONE hashpartitioning(user_id) Exchange.  The
    # naive formulation (theta-join on ts ranges, or a correlated
    # probe per row) blows up as |events|x|dim| at scale; this shape's
    # shuffle volume is |events|+|dim| regardless of time density.
    for key in ("join_asof", "join_asof_forward", "scd2_asof_lookup"):
        plan = _formatted_plan(spark, registry[key].fn(spark, SF001))
        assert plan.count("Join ") == 0, f"{key}: as-of must not plan a join"
        assert plan.count("+- Exchange (") == 1, f"{key}: exactly one shuffle"
        assert "hashpartitioning(user_id" in plan, f"{key}: shuffle must key on user_id"


def test_raster_melt_path_never_shuffles_pixels(spark, registry):
    # The §2.2 melt core: tiles unpivot to points via arrays_zip +
    # ONE posexplode as a pure projection pipeline — the pixel stream
    # must never hit an Exchange, and multi-band zip must align bands
    # in-row (broadcast scalars only), not join exploded pixels.
    for key in ("grid_unpivot", "affine_coords"):
        plan = _formatted_plan(spark, registry[key].fn(spark, SF001))
        assert plan.count("+- Exchange (") == 0, f"{key}: melt path must not shuffle"
        assert plan.count("Generate (") == 1, f"{key}: exactly one posexplode"
    plan = _formatted_plan(spark, registry["band_zip_join"].fn(spark, SF001))
    assert plan.count("+- Exchange (") == 0, "band zip must not shuffle pixels"


def test_geotiff_path_ingest_is_one_arrow_decode_without_join(spark, registry):
    # The TIFF front door (scan_geotiff_mini, GeoTIFF PATH inputs): one
    # MapInArrow stage does all pixel I/O, zips the bands per window and
    # emits finished points, so the plan is that decode under one
    # projection — no explode (Generate), no join, no Exchange, and no
    # other Python node.
    plan = _formatted_plan(spark, registry["scan_geotiff_mini"].fn(spark, SF001))
    tree = plan[: plan.index("\n\n")]
    assert tree.count("MapInArrow") == 1
    for python_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert python_node not in tree, f"{python_node}: the decode is the one Python node"
    assert "Join" not in tree and "CartesianProduct" not in tree, "bands zip inside the decode"
    assert "Exchange" not in tree, "the window list is sliced locally, never shuffled"
    assert "Generate" not in tree, "the decode emits points; nothing explodes pixels"
    # tile-table inputs (raster_big) keep the tile-level join, and the
    # posexplode must sit ABOVE it so the join carries packed tile
    # arrays, never the exploded pixel stream (formatted plans print
    # root-first, so an operator above another prints earlier)
    plan = _formatted_plan(spark, registry["raster_big"].fn(spark, SF001))
    tree = plan[: plan.index("\n\n")]
    joins = [tree.find(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")]
    assert any(p != -1 for p in joins), "tile tables zip bands with a join"
    assert all(tree.index("Generate") < p for p in joins if p != -1)


def test_utm_forward_zero_shuffle_codegen(spark, registry):
    """fn_utm_forward: the whole Snyder series must stay ONE
    codegen-fused map stage — no Exchange, no Python boundary — with
    the band filter pushed to the scan."""
    plan = _formatted_plan(spark, registry["fn_utm_forward"].fn(spark, SF001))
    assert "Exchange" not in plan, "projection-only key must never shuffle"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "EqualTo(band_id,b1)" in plan, "band filter must push to the scan"


def test_gaussian_sep_two_scatter_exchanges(spark, registry):
    """raster_focal_gaussian_sep: exactly TWO partial-aggregated
    scatter-gather shuffles (the separable passes) — the direct 25x
    form would show one; each Exchange must sit between a partial and
    a final HashAggregate (map-side combine)."""
    plan = _formatted_plan(spark, registry["raster_focal_gaussian_sep"].fn(spark, SF001))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 2, f"expected the two separable passes, got {len(exchanges)}"
    assert "SortAggregate" not in plan
    # partial+final pairs: more HashAggregate nodes than Exchanges
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 4


def test_funnel_stage_tables_persisted_three_scans(spark, registry):
    """funnel_batch: s1/s2 each feed two consumers (their own stage
    count + the next stage's join); unpersisted they re-ran their
    whole upstream — six event scans for a three-row result.  Pin the
    persisted shape: stage tables come from InMemoryRelation and the
    events parquet appears as exactly three distinct scan nodes (one
    per funnel stage)."""
    plan = _formatted_plan(spark, registry["funnel_batch"].fn(spark, SF001))
    assert "InMemoryRelation" in plan, "stage tables must be persisted"
    scans = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scans) == 3, f"expected 3 distinct event scans, got {sorted(scans)}"


def test_naive_bayes_two_corpus_scans(spark, registry):
    """ml_naive_bayes: the corpus is read exactly twice — the tokenize/
    explode pass and ONE per-lang prior rollup (persisted; its two
    consumers, the priors and the corpus total, share it).  A third
    scan (the r16 rescan audit's finding: a separate count(*) pass for
    the prior denominator) must not reappear."""
    plan = _formatted_plan(spark, registry["ml_naive_bayes"].fn(spark, SF001))
    assert "InMemoryRelation" in plan, "per-lang rollup must be persisted"
    scans = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scans) == 2, f"expected 2 distinct corpus scans, got {sorted(scans)}"


def test_ks_window_over_collapsed_axis(spark, registry):
    """stat_ks_test: the ECDF window's input must be the per-distinct-
    value aggregate (HashAggregate below the Window), the returnflag
    filter must push to the scan, and the scan must read exactly the
    two needed columns."""
    plan = _formatted_plan(spark, registry["stat_ks_test"].fn(spark, SF001))
    assert "In(l_returnflag, [N,R])" in plan
    readschema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert readschema and "l_extendedprice" in readschema[0]
    assert "l_orderkey" not in readschema[0] and "l_quantity" not in readschema[0]
    w = re.search(r"^\(\d+\) Window", plan, re.M)
    assert w, "ECDF window missing"
    # the window's input must be the collapsing aggregate — formatted
    # details print leaf-first, so the partial HashAggregate's detail
    # block appears BEFORE the Window's
    first_agg = re.search(r"^\(\d+\) HashAggregate", plan, re.M)
    assert first_agg and first_agg.start() < w.start(), (
        "window must run over the per-distinct-value aggregate, not the fact"
    )
