"""Benchmark harness — driver contract (one JSON line on stdout).

Runs the headline queries from the registry at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, forcing
full materialization through the no-op sink (measures compute + shuffle,
not driver-collect). Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

All diagnostics go to stderr.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from raster2points_spark.registry import load_all
from raster2points_spark.runner import noop, run_key, warm
from raster2points_spark.session import get_spark

# Watchdog: single-node runs occasionally hit a pathological stall
# (observed 180s on a query whose steady state is 3s).  Any sequential
# run exceeding RUN_CAP_S is cancelled; the other passes still supply
# a sample.
RUN_CAP_S = 75.0

# Representative spread: scan, filter, agg, star join, window, asof,
# raster pipeline, and (as they land) LLM-pipeline ops.
HEADLINE = [
    "agg_groupby",
    "join_broadcast_star",
    "join_inner_eq",
    "join_asof",
    "win_topk_group",
    "filter_pred",
    "agg_percentile",
    "col_rename",  # raster building blocks on the small grid
    "raster_big",  # full zipped raster2points pipeline, 512x512 px
    "fn_string",
    "set_union_distinct",
    # LLM-pipeline ops
    "dedup_exact",
    "dedup_near",
    "dedup_jaccard",
    "sim_knn",
    "sim_ivf",
    "text_tokens",
    "text_tfidf",
    "text_quality",
    # streaming + UDF surface
    "stream_tumbling",
    "stream_session",
    "udf_pandas_scalar",
    "udf_grouped_map",
    # r4 flagships (added r5): the composed pipelines and iterative ops
    # are exactly where a silent 2x regression would hide — bench them
    # with their DuckDB comparator SQL like everything else.
    "pipeline_train_ready",
    "graph_pagerank",
    "dedup_incremental",
    "pack_sequences",
    "text_unigram_ppl",
    # r5 behavioral analytics: single-exchange event-stream shapes
    "sessionize_batch",
    "cohort_retention",
    "anomaly_mad",
    # r5 composites + span dedup
    "tpch_q3",
    "dedup_chunks",
    # r6: the remaining heavy r5 keys with no bench history — blocked
    # pairwise dedup, set-overlap and sweep-line shapes whose cost is
    # candidate-count-driven, so a silent blowup shows here first.
    "dedup_edit_distance",
    "audience_overlap",
    "source_vocab_overlap",
    "concurrency_peak",
    "attribution_first_touch",
    # r6 late additions: the iterative loops (k-means, power iteration,
    # BFS), the widest TPC-H self-join probe, and the two heaviest new
    # text kernels — exactly the keys where a silent candidate-count or
    # lineage blowup would show first.
    "tpch_q21",
    "ml_kmeans_lloyd",
    "embed_power_iteration",
    "graph_shortest_hops",
    "text_bigram_ppl",
    "dedup_containment",
    "pipeline_quality_ensemble",
    # r6 TPC-H widening: the scan-kernel query (raw scan throughput —
    # no plan choice can hide a slow reader) and the pruned-join top-k
    "tpch_q6",
    "tpch_q10",
    "tpch_q19",
    "text_boilerplate",
    "dq_expectations",
    # r6 continuation: training-shuffle, vectorizer, eval metrics and
    # the two-sided Arrow cogroup — the new Python-boundary and
    # collapsed-axis shapes
    "shuffle_shards",
    "feature_hashing",
    "ml_auc_roc",
    "udf_cogrouped_map",
    "spatial_nearest",
    "win_range_frame",
    # this-session additions: full-scan wide agg (Q1 — the scan+agg
    # throughput ceiling), derived-dim extremum (Q2), the bloom-probed
    # shuffle join, PQ encode+ADC, KMV set algebra and the restart
    # exactly-once drain (two real streaming runs)
    "tpch_q1",
    "tpch_q2",
    "tpch_q9",
    "join_bloom_runtime",
    "embed_pq",
    "agg_kmv_set_ops",
    "cdc_net_changes",
    "stream_restart_recovery",
    # late-session additions: in-engine NB training, SemDeDup prune,
    # bit-exact HLL, erasure retraction, bootstrap, rank-search median,
    # hierarchy closure and the join-view refresh
    "ml_naive_bayes",
    "dedup_semantic_cluster",
    "agg_hll_oracle",
    "privacy_erasure_cascade",
    "stat_bootstrap_se",
    "agg_exact_median_twopass",
    "hierarchy_rollup",
    "mv_join_incremental",
    # complete the TPC-H suite in bench (all 22 shapes measured) and
    # the final-session retrieval/raster keys
    "tpch_q4",
    "tpch_q5",
    "tpch_q7",
    "tpch_q8",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q20",
    "tpch_q22",
    "text_bm25",
    "text_phrase_near",
    "raster_contour_cells",
    "spatial_point_in_polygon",
    "ml_logreg_irls",
    "join_phonetic",
    "pipeline_rag_index",
    "pipeline_entity_resolution",
    "win_groups_frame",
    "agg_exact_p99_grouped",
    "join_asof_tolerance",
    # r12 additions: the sparse/masked COG front door, the composed
    # ANN recall eval (runs both sim members — the accuracy/cost
    # gauge) and the distributed header catalog
    "scan_geotiff_sparse",
    "sim_ivf_recall",
    "scan_raster_catalog",
    "raster_extent_prune",
    # r13 additions: overview-aware prune, the VRT-shape mixed-res
    # mosaic, and the distributed GeoTIFF write+readback roundtrip
    "raster_overview_prune",
    "raster_mosaic_hetero",
    "sink_geotiff",
    "sink_geotiff_pyramid",
    "raster_tile_zonemap",
    # r14 additions: the measured-compute keys (Snyder projection,
    # separable blur vs the direct-form oracle, exact KS).  The two
    # other r14 keys (sink_geotiff_lzw, raster_mosaic_crs_groups)
    # stay OUT of the headline: their oracles are golden VALUES /
    # constant tables, so the DuckDB side of the seq-ratio comparator
    # would be a ~0 s no-op against Spark's real file-write fixtures —
    # the same distortion the r13 sink keys already cost the gate;
    # both remain correctness-gated by the driver every round.
    "fn_utm_forward",
    "raster_focal_gaussian_sep",
    "stat_ks_test",
]


def bench_detail_path(repo: str, cpus: int, host_cpus: int, rnd: str | None = None) -> str:
    """The detail file a run at ``cpus`` cores on a ``host_cpus``-core
    host writes.

    The round tag is ``rnd`` (SPARK_GRAFT_ROUND) when set, else inferred
    from the newest committed ``BENCH_r{N}.json``.  A full-core run
    writes the round file ``reports/bench_r{N}_detail.json`` of the round
    being run: N+1 once round N's detail file exists (a hard-coded
    default silently overwrote the PRIOR round's detail), N while it
    does not (a rerun after ``BENCH_r{N}.json`` landed is still round
    N).  A run below the host's core count is a scaling sample, not a
    round: it never creates or advances a round file and writes
    ``reports/bench_r{N}_c{cpus}_detail.json`` of the newest benched
    round, like ``BENCH_r16_c8.json``.
    """
    full_core = cpus >= host_cpus
    if not rnd:
        benched = [
            int(m.group(1))
            for f in glob.glob(os.path.join(repo, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r(\d+)\.json$", f))
        ]
        n = max(benched, default=0)
        round_done = os.path.exists(os.path.join(repo, "reports", f"bench_r{n}_detail.json"))
        if not full_core:
            rnd = f"r{max(n, 1)}"
        elif n > 0 and not round_done:
            rnd = f"r{n}"
        else:
            rnd = f"r{n + 1}"
    name = f"bench_{rnd}_detail.json" if full_core else f"bench_{rnd}_c{cpus}_detail.json"
    return os.path.join(repo, "reports", name)


def _split(r: dict) -> dict:
    """A run_key record without its action result, seconds rounded."""
    return {
        "build_s": round(r["build_s"], 3),
        "exec_s": round(r["exec_s"], 3),
        "build_jobs": r["build_jobs"],
        "exec_jobs": r["exec_jobs"],
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"
    # Core count this run executes at — recorded per sample (VERDICT
    # r15 #2b): the driver also runs bench at a lower core count for
    # scaling measurements, and those samples must not pollute the
    # same-day gate median alongside full-core samples.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    registry = load_all()
    spark = get_spark("bench")

    warm(spark, sf_dir)
    keys = [k for k in HEADLINE if k in registry]

    # Three full passes over the list, best-of per key: this host has
    # bursty multi-second "slow eras" (co-tenant CPU steal, GC) that
    # hit ADJACENT runs, so back-to-back repeats of one key can all
    # land in the same era.  Separating the samples by whole passes
    # decorrelates them; the min is the steady-state number.
    # NOTE on cache hygiene: unlike tools/diff_oracle.py (210 keys, one
    # session — clears the cache between keys), bench deliberately runs
    # warm (run_key cold=False).  Spark's CacheManager matches
    # identical logical plans, so passes 2/3 of keys that persist()
    # reused intermediates (dedup_near's signature index, sim_ivf's
    # assignment index, graph_pagerank's out-degrees) run warm — which
    # is the steady-state-service semantic min-of-3 documents above.
    # Clearing between runs was measured to cost those keys 1.7-2.2x
    # (r6 trial) by re-charging index builds to every pass.
    import threading

    runs_by_key: dict[str, list[float]] = {}
    splits_by_key: dict[str, list[dict]] = {}
    for _pass in range(3):
        for key in keys:
            done = threading.Event()
            timer = threading.Timer(
                RUN_CAP_S, lambda: done.is_set() or spark.sparkContext.cancelAllJobs()
            )
            timer.start()
            try:
                r = run_key(spark, key, sf_dir, noop, cold=False)
                runs_by_key.setdefault(key, []).append(r["build_s"] + r["exec_s"])
                splits_by_key.setdefault(key, []).append(_split(r))
            except Exception as exc:  # pragma: no cover - bench robustness
                print(f"bench: {key} pass {_pass} FAILED: {exc}", file=sys.stderr)
            finally:
                done.set()
                timer.cancel()

    timings: dict[str, float] = {}
    total = 0.0
    for key in HEADLINE:
        runs = runs_by_key.get(key)
        if not runs:
            continue
        dt = min(runs)
        timings[key] = round(dt, 3)
        total += dt
        print(f"bench: {key} {dt:.2f}s (runs: {[round(r, 2) for r in runs]})", file=sys.stderr)

    # DuckDB comparator: identical oracle SQL on the same parquet
    # (BASELINE.md "comparator runtime" row) — diagnostics only.
    duck_timings: dict[str, float] = {}
    try:
        import duckdb

        con = duckdb.connect()
        from raster2points_spark.io import TABLES

        for name in TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
            )
        for key in HEADLINE:
            spec = registry.get(key)
            if spec is None or not spec.oracle:
                continue
            t0 = time.time()
            con.execute(spec.oracle).fetchall()
            duck_timings[key] = round(time.time() - t0, 3)
        print(f"bench: duckdb comparator {duck_timings}", file=sys.stderr)
    except Exception as exc:  # pragma: no cover
        con = None
        print(f"bench: duckdb comparator skipped: {exc}", file=sys.stderr)

    # Batched DuckDB comparator (VERDICT r11 #7): the Spark headline
    # is a batched pool=16 wall-clock, so the comparator needs the
    # same concurrency mode or the BASELINE table compares apples to
    # oranges.  DuckDB releases the GIL during execution and
    # con.cursor() opens an independent connection onto the same
    # in-memory catalog, so a 16-thread pool genuinely parallelizes —
    # the same best-of-two-passes discipline as the Spark batch.
    duck_batched_passes: list[float] = []
    if con is not None:
        try:
            from concurrent.futures import ThreadPoolExecutor

            def _duck_one(key: str) -> None:
                spec = registry.get(key)
                if spec is None or not spec.oracle:
                    return
                cur = con.cursor()
                try:
                    cur.execute(spec.oracle).fetchall()
                finally:
                    cur.close()

            for _pass in range(2):
                dt0 = time.time()
                with ThreadPoolExecutor(max_workers=16) as pool:
                    list(pool.map(_duck_one, HEADLINE))
                duck_batched_passes.append(round(time.time() - dt0, 3))
            print(
                f"bench: duckdb batched passes {duck_batched_passes}s "
                f"(pool=16, min={min(duck_batched_passes)}s)",
                file=sys.stderr,
            )
        except Exception as exc:  # pragma: no cover
            print(f"bench: duckdb batched pass skipped: {exc}", file=sys.stderr)

    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = sf

    # Batched service pass (r6 verdict #7): ~60 of the headline keys
    # are sub-second, where each pays a fixed ~0.3-1 s JVM
    # job-submission cost that DuckDB doesn't — the sequential total
    # then measures job submission, not plan quality.  Submit every
    # key once more from a thread pool (Spark's scheduler interleaves
    # concurrent jobs) and take ONE wall-clock for the whole set: the
    # fixed costs amortize and the number reflects aggregate plan
    # throughput — what a real multi-tenant service sees.
    batched_sec = None
    batched_passes: list[float] = []
    batched_splits: dict[str, list[dict]] = {}
    batched_err = 0
    try:
        from concurrent.futures import ThreadPoolExecutor

        # pool=16 measured best on local[32] (r8: 12.5-14.4 s vs
        # 14.8-16.7 s at pool=8, warmed, min/typ of repeated passes) —
        # enough in-flight jobs to cover scheduler gaps without
        # oversubscribing the 32 cores.  Since the batched number is
        # the HEADLINE metric (r9), take the best of two passes: a
        # single sample against a shared box conflates plan quality
        # with GC/co-tenant spikes (the r9 scale probe measured 2-3x
        # swings on identical code), and noise is strictly additive,
        # so min-of-2 is the better point estimate; any error in
        # either pass still counts (fall back to the sequential
        # headline downstream).
        # BOTH pass wall-clocks are recorded in the detail file (r9
        # ADVICE): pass 2 runs fully warmed by pass 1, so min-of-2 is
        # a methodology BREAK vs the single-pass numbers of r1-r8 —
        # cross-round comparisons should use batched_passes[0] (the
        # same-methodology series) and SCALE.md says so.
        for _pass in range(2):
            bt0 = time.time()
            with ThreadPoolExecutor(max_workers=16) as pool:
                futures = {
                    k: pool.submit(run_key, spark, k, sf_dir, noop, cold=False) for k in keys
                }
                errs = {k: f.exception() for k, f in futures.items()}
            batched_passes.append(round(time.time() - bt0, 3))
            batched_err += sum(1 for e in errs.values() if e is not None)
            for k, f in futures.items():
                if errs[k] is None:
                    batched_splits.setdefault(k, []).append(_split(f.result()))
        batched_sec = min(batched_passes)
        print(
            f"bench: batched passes {batched_passes}s over {len(keys)} keys "
            f"(pool=16, headline=min={batched_sec}s, {batched_err} errors)",
            file=sys.stderr,
        )
    except Exception as exc:  # pragma: no cover
        print(f"bench: batched pass skipped: {exc}", file=sys.stderr)

    # Full per-key timings + the DuckDB comparator go to a detail file;
    # stdout gets ONE COMPACT line (<256 bytes).  Round 6 lesson: the
    # driver truncates long stdout (BENCH_r06 captured only the tail of
    # a ~4 KB line → "parsed": null, zero driver-side perf evidence).
    repo = os.path.dirname(os.path.abspath(__file__))
    detail_path = bench_detail_path(
        repo, cpus, len(os.sched_getaffinity(0)), os.environ.get("SPARK_GRAFT_ROUND")
    )
    if not os.environ.get("SPARK_GRAFT_ROUND"):
        print(
            f"bench: round tag inferred from BENCH_r*.json for {os.path.basename(detail_path)} "
            f"(set SPARK_GRAFT_ROUND to override)",
            file=sys.stderr,
        )
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    # Same-day sample history (VERDICT r12 #5): every run of this
    # round APPENDS its summary to the detail's "same_day_samples"
    # list instead of silently replacing the prior sample, so the
    # committed detail, BASELINE.md's row and the driver's own
    # end-of-round BENCH_r{N}.json all describe the same recorded set
    # no matter which run happens to be written last.
    samples: list[dict] = []
    try:
        with open(detail_path) as fh:
            prev = json.load(fh)
        samples = list(prev.get("same_day_samples") or [])
        prev_summary = {
            "sequential_sec": prev.get("value"),
            "batched_passes": prev.get("batched_passes"),
            "duck_total_sec": (prev.get("comparator") or {}).get("total_sec"),
            "duck_batched_passes": (prev.get("comparator") or {}).get(
                "batched_passes"
            ),
        }
        if prev.get("cpus") is not None:
            prev_summary["cpus"] = prev.get("cpus")

        # the prior file's own summary may already close its list
        # (it appended itself on write) — don't record it twice.
        # Compare on the four timing fields only: older files carry no
        # cpus tag, so a dict-equality check would double-count them.
        def _same_sample(a: dict, b: dict) -> bool:
            return all(
                a.get(k) == b.get(k)
                for k in (
                    "sequential_sec",
                    "batched_passes",
                    "duck_total_sec",
                    "duck_batched_passes",
                )
            )

        if not any(_same_sample(prev_summary, s) for s in samples):
            samples.append(prev_summary)
    except (OSError, ValueError):
        pass
    samples.append(
        {
            "sequential_sec": round(total, 3),
            "batched_passes": batched_passes,
            "duck_total_sec": round(sum(duck_timings.values()), 3),
            "duck_batched_passes": duck_batched_passes,
            "cpus": cpus,
        }
    )
    # Median-of-samples gate summary (VERDICT r13 #7): the BASELINE
    # row quotes the MEDIAN sequential ratio across the round's
    # samples (one lucky/unlucky co-tenant window can't flip the 2×
    # gate) alongside the best batched pass as headline.  Per-sample
    # ratios are medianed directly — a ratio of medians would pair
    # numbers from different windows.
    import statistics as _stats

    # CPU-clean median (VERDICT r15 #2b): the driver's low-core scaling
    # runs land in the same detail file; a sample tagged with fewer
    # cores than the round's full-core runs is excluded from the gate
    # median (untagged samples predate the tag and were full-core runs).
    _full_cpus = max(
        (s["cpus"] for s in samples if s.get("cpus") is not None), default=cpus
    )
    _gate = [s for s in samples if s.get("cpus", _full_cpus) >= _full_cpus]
    _seqs = [s["sequential_sec"] for s in _gate if s.get("sequential_sec")]
    _ducks = [s["duck_total_sec"] for s in _gate if s.get("duck_total_sec")]
    _ratios = sorted(
        s["sequential_sec"] / s["duck_total_sec"]
        for s in _gate
        if s.get("sequential_sec") and s.get("duck_total_sec")
    )
    _batched_best = min(
        (min(s["batched_passes"]) for s in _gate if s.get("batched_passes")),
        default=None,
    )
    sample_summary = {
        "n_samples": len(samples),
        "n_gate_samples": len(_gate),
        "gate_cpus": _full_cpus,
        "median_sequential_sec": round(_stats.median(_seqs), 3) if _seqs else None,
        "median_duck_total_sec": round(_stats.median(_ducks), 3) if _ducks else None,
        "median_seq_ratio": round(_stats.median(_ratios), 3) if _ratios else None,
        "best_batched_sec": _batched_best,
    }
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "sf": sf_num,
                "cpus": cpus,
                "n_keys": len(timings),
                "batched_wall_sec": batched_sec,
                # both raw pass wall-clocks; [0] is the cold(er) pass —
                # the series comparable to r1-r8's single-pass numbers
                "batched_passes": batched_passes,
                "batched_err": batched_err,
                "queries": timings,
                # every pass's raw timing per key, pass order preserved
                # (VERDICT r15 #2a): pass 1 is the cold number; keys
                # that persist() intermediates run passes 2/3 warm via
                # CacheManager plan matching (see the cache-hygiene
                # note above), and this makes the cold/warm split
                # durable instead of stderr-only.  The headline per-key
                # number stays min(runs), unchanged since r1.
                "query_runs": {
                    k: [round(r, 3) for r in runs_by_key[k]]
                    for k in timings
                    if k in runs_by_key
                },
                # the same runs split into plan build (spec.fn) and the
                # noop write, with each phase's Spark job count
                # (runner.run_key), and the batched passes' split per key
                "query_splits": {k: splits_by_key[k] for k in timings},
                "batched_splits": batched_splits,
                "comparator": {
                    "engine": "duckdb",
                    "total_sec": round(sum(duck_timings.values()), 3),
                    # concurrency-matched twin of the Spark batched
                    # headline: pool=16, best of two passes ([0] is
                    # the colder pass, like batched_passes)
                    "batched_wall_sec": (
                        min(duck_batched_passes) if duck_batched_passes else None
                    ),
                    "batched_passes": duck_batched_passes,
                    "queries": duck_timings,
                },
                # every same-round sample incl. this one, oldest first
                "same_day_samples": samples,
                # median seq (+ ratio) across those samples — the
                # BASELINE row's quoted gate number since r14
                "same_day_median": sample_summary,
            },
            fh,
            indent=1,
        )
    print(f"bench: detail written to {detail_path}", file=sys.stderr)

    # Compact headline: three flagship per-key numbers (scan+agg
    # ceiling, LSH dedup, composed pipeline) keep the contract's
    # "queries" field populated while staying well under 256 bytes.
    flagship = {
        k: timings[k]
        for k in ("tpch_q1", "dedup_near", "pipeline_train_ready")
        if k in timings
    }
    # Headline metric = the BATCHED service pass (r8 VERDICT #6): the
    # 97-key sequential total is ~70% fixed JVM job-submission cost at
    # sf0.1 and under-sells plan quality round-over-round; the batched
    # wall-clock is the number that tracks plan improvements.  The
    # sequential total stays alongside as sequential_sec (and in the
    # detail file per-key).  A batched pass with ANY errored key would
    # understate work done, so fall back to the sequential metric
    # rather than publish a flattering lie.
    batched_ok = batched_sec is not None and batched_err == 0
    headline = {
        "metric": "headline_batched_wall" if batched_ok else "headline_total_wall",
        "value": batched_sec if batched_ok else round(total, 3),
        "unit": "sec",
        "sf": sf_num,
        "n_keys": len(timings),
        "sequential_sec": round(total, 3),
        "batched_err": batched_err,
        "queries": flagship,
        "detail": "reports/" + os.path.basename(detail_path),
    }
    # Degrade, never crash: the driver needs SOME parseable line even
    # if a field grows (longer sf string, extra digits).  Drop
    # optional fields until the line fits the 256-byte contract.
    for drop in ("queries", "detail", "batched_err", "sequential_sec", "n_keys"):
        line = json.dumps(headline, separators=(",", ":"))
        if len(line) < 256:
            break
        headline.pop(drop, None)
    else:
        line = json.dumps(headline, separators=(",", ":"))
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
