"""Regenerate PLANS.md: formatted physical plans for representative
keys, with the scale property each plan is supposed to exhibit.

Usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from raster2points_spark.plans import explain_formatted
from raster2points_spark.registry import load_all
from raster2points_spark.session import get_spark

SF = "/root/testdata/sf0.001"

# key → the property a reviewer should check in the plan below it
SHOWCASE = [
    ("agg_groupby", "filters pushed to the parquet scan (PushedFilters), ReadSchema pruned to the 7 needed columns, partial+final hash aggregation"),
    ("join_broadcast_star", "all four dims broadcast (BroadcastHashJoin x4); the fact side shuffles once at most - no SortMergeJoin on a dim"),
    ("join_asof", "as-of join as ONE shuffle on user_id + a running last(ignoreNulls) window - no correlated probe per row, no join blowup"),
    ("join_salted", "salt explode on the fact side, dim replicated per salt - result identical to the plain join, distribution skew-proof"),
    ("dedup_near", "minhash signatures are per-row projections (no token-level Generate/shuffle); candidates verified by in-row array_intersect over a persisted (InMemoryTableScan) relation"),
    ("dedup_jaccard", "inverted-index equi-join on shingle (docs only meet when they share one), document-frequency-capped BEFORE the self-join; sizes join UNHINTED (no broadcast of a per-doc relation - AQE decides)"),
    ("dedup_simhash", "zero hash-shuffles: per-bit votes are aggregate() folds over the row's own token array"),
    ("dedup_embed", "candidate pairs from an EQUI join on the sign-random-projection LSH bucket - no cross/theta join over the corpus, no hinted broadcast"),
    ("text_tfidf", "term counts computed in-row; the vocabulary df join is UNHINTED (shuffle join at scale, AQE broadcasts when small) - only the 1-row corpus count is hint-broadcast"),
    ("subq_exists", "correlated EXISTS decorrelated by Catalyst into a semi join - no per-row subquery execution"),
    ("sim_knn", "probe set broadcast; corpus side is one linear scan with JVM-side zip_with/aggregate dot products; top-k is TWO-phase - per-(probe, pmod-bucket) prune window before the final per-probe rank, so no task sorts the whole corpus"),
    ("sim_ivf", "broadcast codebook, persisted assignment index, probe searches only its own cluster"),
    ("raster_big", "bands zipped at tile granularity (arrays_zip before ONE posexplode) - the pixel stream is never shuffled"),
    ("pipeline_clean_corpus", "the composed cleaning pipeline stays two shuffles: dedup aggregate + survivor join; quality features are per-row projections"),
    ("join_interval_bucketed", "range join as an EQUI join on (user, hour-bucket) with the time range as a post-filter - no nested-loop over user pairs"),
    ("agg_rollup_cascade", "daily rollup consumes the hourly rollup: ONE source scan, two partial+final aggregation levels"),
    ("text_gopher_rules", "quality gate is a pure projection fused into the scan - no shuffle, no sort, whole-stage codegen"),
    ("pack_sequences", "cumsum window PARTITIONED BY source shard (hashpartitioning, never rangepartitioning/global sort); the same shuffle feeds window and rollup"),
    ("sample_mixture", "per-source counts broadcast back to the corpus (BroadcastHashJoin); the corpus is never shuffled for the join"),
    ("merge_upsert", "MERGE INTO as one full-outer equi-join + CASE resolution; changes side unhinted (AQE broadcasts a small CDC batch)"),
    ("spatial_join_grid", "containment as an EQUI join on inverse-affine cell ids - no CartesianProduct/BroadcastNestedLoopJoin"),
    ("dedup_incremental", "new batch anti-joined (LeftAnti) against the slim historical hash index; history data never rescanned"),
    ("pipeline_train_ready", "gate fused into the scan; dedup window + counts agg + packing window = the whole curation chain's shuffle budget; no rangepartitioning anywhere"),
    ("graph_pagerank", "final plan is TakeOrderedAndProject over a localCheckpoint RDD scan - the checkpoint deliberately TRUNCATES the per-round lineage (no quadratic plan growth across iterations); the loop internals (persisted edges/nodes/outdeg, partial-aggregated contrib groupBy) are asserted by the oracle + timings, not visible here by design"),
    ("embed_normalize", "zero Exchange: norm + unit checks are per-row folds pipelined inside the scan stage"),
    ("embed_centroids", "posexplode fan-out collapses via map-side-combined partial aggregation - the Exchange carries labels x dims rows, not the corpus"),
    ("sample_reservoir", "deterministic k=100 sample plans as TakeOrderedAndProject (partition-local top-k) - no rangepartitioning/global sort"),
    ("text_heavy_hitters", "array_distinct in-row then one map-side-combined token groupBy; the 1-row corpus count joins via BroadcastExchange"),
    ("sessionize_batch", "lag window + cumsum window + session rollup share ONE hashpartitioning(user_id) Exchange - HashPartitioning(user_id) satisfies the wider ClusteredDistribution(user_id, session_no)"),
    ("join_dpp", "dynamicpruningexpression in the fact scan's PartitionFilters - the join-derived month set prunes directories at runtime, scan cost proportional to dim selectivity"),
    ("join_lateral", "correlated LATERAL with LIMIT decorrelated into WindowGroupLimit (map-side partial top-k before the exchange) under a broadcast join - no per-outer-row probe"),
    ("reshape_unpivot", "wide-to-long melt as a pipelined Expand over ONE parquet scan, zero Exchange - the UNION-ALL formulation would read the fact table once per measure"),
    ("anomaly_mad", "per-type median/MAD stats broadcast back onto the stream (BroadcastHashJoin x2) - the event table itself is never shuffled or sorted"),
    ("dedup_chunks", "chunk-level first-occurrence dedup shuffles on the CHUNK TEXT (content-addressed, uniform) then reassembles with one doc_id shuffle - no global sort"),
    ("tpch_q6", "the scan-kernel query: all three predicates in PushedFilters, 2-column ReadSchema, no Join, no hashpartitioning - one map-side partial sum + 1-row merge"),
    ("tpch_q10", "quarter filter pushed to the orders scan and returnflag to lineitem BEFORE the orderkey shuffle; nation broadcast; top-20 as TakeOrderedAndProject"),
    ("text_boilerplate", "chunk document-frequency via one content-addressed groupBy(source, chunk); the df relation joins back on the same key (unhinted - AQE decides); one doc_id reassembly shuffle"),
    ("spatial_nearest", "k-ring NN as probe-side x9 Generate + EQUI join on (col,row) + per-probe row_number - no CartesianProduct/BNLJ anywhere"),
    ("shuffle_shards", "deterministic training shuffle: one hashpartitioning(shard) Exchange + per-shard sort window - exactly the repartition(shard).sortWithinPartitions write path"),
    ("ts_ohlc", "OHLC as ONE hash aggregate: min_by/max_by on a bigint-packed (tsec,id) key keep the aggregate hash-based (string keys fall back to SortAggregate - measured); no window, no sort"),
    ("ml_auc_roc", "exact AUC over the COLLAPSED score axis: per-score counts partial-aggregate map-side; the single-partition cumulative window touches |distinct scores| rows, never the corpus"),
    ("tpch_q1", "the full-scan wide aggregate: 8 measures over ~6 groups in ONE partial+final HashAggregate pair - shuffle volume O(groups x partitions), row-count-independent"),
    ("join_bloom_runtime", "InjectRuntimeFilter in action: ObjectHashAggregate builds bloom_filter_agg over the pruned orders keys and bloom_filter_might_contain probes the lineitem scan BEFORE the shuffle"),
    ("embed_pq", "PQ encode/query: both joins are BroadcastExchange of the 32-row codebook/distance table; argmin via per-(vec,subspace) window; top-10 as TakeOrderedAndProject"),
    ("agg_exact_median_twopass", "exact median with NO global sort: histogram groupBy + tiny cumulative window locate the rank bucket; pass 2's filter re-reaches the scan; the only WindowExec sorts one bucket's rows"),
    ("agg_hll_oracle", "mergeable HLL: per-bucket max-rho partial-aggregates map-side (<=64 registers per partition); the register spine joins LEFT so empty buckets survive; estimate arithmetic is a 5-row projection"),
    ("skyline_pareto_front", "dominance decomposed: per-size minima partial-agg, suffix-min window over the tiny minima relation, ONE BroadcastHashJoin back - no CartesianProduct for the quadratic definition"),
    ("sim_mips", "MIPS via norm augmentation: probes broadcast against one corpus scan (the BNLJ is the deliberate brute-force baseline); per-probe top-10 pushed down as WindowGroupLimit - no global sort"),
    ("dedup_semantic_cluster", "SemDeDup prune self-join is EQUI on (cid, salt) - pair space is sum(|cluster|^2) with overflow clusters salt-split, never n^2; cluster count and stride derive from broadcast 1-row counts"),
    ("agg_salted_twophase", "skew-safe aggregate: partial+final on (key, salt) behind one Exchange, re-aggregate on the bare key behind a second - the literal two-phase plan"),
    ("raster_focal_mean", "stencil scatter-gather: each valid pixel scatters to its k neighborhood centers, ONE partial-aggregated hashpartitioning Exchange gathers - no per-offset self-join of the pixel relation"),
    ("ml_kmeans_lloyd", "iterative loop discipline: the final plan reads the localCheckpoint'd relation (Scan ExistingRDD) - per-round lineage TRUNCATED so plan depth is constant in iteration count; centroids broadcast inside each round"),
    ("scan_geotiff_mini", "TIFF ingest job shape: driver reads HEADERS only; ONE MapInArrow stage over a local window list does all pixel I/O, each task seeking exactly its own windows' byte ranges (COG access pattern), zipping the bands per window and emitting finished points (band-1 mask, NoData, affine in numpy) - no join, no Exchange, no Generate; the JVM runs one projection (casts, names)"),
    ("fn_utm_forward", "real geodesy as a zero-shuffle projection: the whole Snyder transverse-Mercator series is ONE codegen stage fused into the tile melt - no Exchange anywhere; at 100 TB the reprojection cost is pure map-side compute proportional to pixels"),
    ("raster_focal_gaussian_sep", "separable convolution: TWO scatter-gather passes (Generate x2 above the melt's posexplode), each a partial-aggregated hashpartitioning Exchange of 5x rows - never the direct form's single 25x scatter; shuffle volume 2k vs k^2 for any k-tap separable kernel"),
    ("stat_ks_test", "exact two-sample KS over the COLLAPSED value axis: per-distinct-value counts partial-aggregate map-side; the single-partition ECDF window touches |distinct prices| rows, never the fact; totals are a 1-row broadcast; final max-reduce to one row"),
]


def main() -> int:
    spark = get_spark("plans")
    reg = load_all()
    out = [
        "# PLANS — physical-plan showcase\n",
        "Auto-generated by `tools/dump_plans.py` at sf0.001 (plans are",
        "scale-independent; AQE re-plans sizes at runtime). Each section",
        "states the scale property the plan must exhibit; the",
        "plan-regression tests in `tests/test_plans.py` assert the same",
        "properties mechanically.\n",
    ]
    for key, prop in SHOWCASE:
        spec = reg.get(key)
        if spec is None:
            continue
        plan = explain_formatted(spec.fn(spark, SF))
        # the tree section plus the evidence lines (pushdown/pruning/
        # cache/in-row ops) - full node details would double the size
        tree = plan.split("\n\n", 1)[0]
        evidence = [
            line.strip()
            for line in plan.splitlines()
            if any(
                m in line
                for m in ("PushedFilters:", "ReadSchema:", "InMemoryTableScan", "array_intersect")
            )
        ]
        out.append(f"## {key}\n")
        out.append(f"**Must hold:** {prop}\n")
        out.append("```")
        out.append(tree)
        if evidence:
            out.append("")
            out.extend(dict.fromkeys(evidence))  # dedupe, keep order
        out.append("```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    return 0


if __name__ == "__main__":
    sys.exit(main())
