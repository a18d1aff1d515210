"""Core-count scaling evidence at 10x scale (VERDICT r15 #5).

The shipped bench at sf0.1 is fixed-cost-bound (8-vs-32-core ratios
~1), so it cannot demonstrate the parallelism the scale claims rest
on.  This probe materializes the deterministic 10x-sf0.1 synthetic
slices (scale_probe's content-digest-cached builders: relational,
event/document, rotation-fair embeddings), merges them into ONE
directory (symlinks), and times the heaviest registry keys there at
the CURRENT core count — run it twice:

    SPARK_GRAFT_CPUS=32 python tools/core_scaling.py > /tmp/cs32.txt
    SPARK_GRAFT_CPUS=8  python tools/core_scaling.py > /tmp/cs8.txt
    python tools/core_scaling.py --merge /tmp/cs8.txt /tmp/cs32.txt \
        > reports/core_scaling_r16.txt

Each key runs --runs times (default 3) through the noop sink, each
run on a cleared cache (``runner.run_key`` cold); the per-key MIN is
reported.
The merge step pairs the two files into the 8c/32c ratio table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the heaviest non-streaming bench keys at sf0.1 (baseline r16 top of
# table) + the rewritten-this-round keys, spanning all four corpora
KEYS = [
    "graph_shortest_hops",
    "graph_pagerank",
    "ml_kmeans_lloyd",
    "embed_power_iteration",
    "pipeline_quality_ensemble",
    "ml_naive_bayes",
    "dedup_containment",
    "dedup_jaccard",
    "dedup_near",
    "dedup_semantic_cluster",
    "text_bigram_ppl",
    "text_boilerplate",
    "text_tfidf",
    "stat_ks_test",
    "ml_auc_roc",
    "concurrency_peak",
    "sessionize_batch",
    "tpch_q1",
    "tpch_q9",
    "tpch_q21",
]


def build_combined(src_dir: str, copies: int = 10) -> str:
    from scale_probe import build_x10, build_x10_dedup, build_x10_rel, build_xemb

    rel = build_x10_rel(src_dir, copies)
    evd = build_x10(src_dir)  # events axis: 10x only (behavioral keys)
    emb = build_xemb(src_dir, copies)
    out = os.path.join("/tmp", f"r2p_x{copies}_combined")
    os.makedirs(out, exist_ok=True)
    # documents: the copy-salted dedup-fair slice at >10x (constant
    # near-dup density); the tag-suffix slice at 10x for parity with
    # scale_probe's --x10 numbers
    dirs = [rel, emb, evd]
    if copies > 10:
        dirs.insert(0, build_x10_dedup(src_dir, copies))
    for d in dirs:
        for f in os.listdir(d):
            dst = os.path.join(out, f)
            if not os.path.exists(dst):
                os.symlink(os.path.join(d, f), dst)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--merge", nargs=2, metavar=("FILE8", "FILE32"))
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    if args.merge:
        a, b = (json.load(open(f)) for f in args.merge)
        (lo, lo_c), (hi, hi_c) = sorted(
            [(a, a["cpus"]), (b, b["cpus"])], key=lambda t: t[1]
        )
        print(
            f"== core scaling at {lo.get('copies', 10)}x-sf0.1 ({lo_c} vs {hi_c} "
            f"cores, min of {lo['runs']} runs, noop sink) =="
        )
        print(f"{'key':28s} {f'{lo_c}c s':>8s} {f'{hi_c}c s':>8s} {'ratio':>6s}")
        for k in lo["timings"]:
            t8, t32 = lo["timings"][k], hi["timings"].get(k)
            if t8 is None or t32 is None:
                print(f"{k:28s} {'ERR':>8s}")
                continue
            print(f"{k:28s} {t8:8.2f} {t32:8.2f} {t8 / t32:6.2f}")
        s8 = sum(v for v in lo["timings"].values() if v)
        s32 = sum(v for v in hi["timings"].values() if v)
        print(f"{'TOTAL':28s} {s8:8.2f} {s32:8.2f} {s8 / s32:6.2f}")
        return 0

    from raster2points_spark.runner import noop, run_key
    from raster2points_spark.session import get_spark

    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = build_combined(src, args.copies)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark("core_scaling")
    spark.range(1000).selectExpr("sum(id)").collect()
    timings: dict[str, float | None] = {}
    for key in args.keys or KEYS:
        runs = []
        for r in range(args.runs):
            try:
                rec = run_key(spark, key, sf_dir, noop, cold=True)
                runs.append(round(rec["build_s"] + rec["exec_s"], 3))
            except Exception as exc:  # pragma: no cover
                print(f"{key} run {r} FAILED: {exc}", file=sys.stderr)
        timings[key] = min(runs) if runs else None
        print(f"{key}: {runs}", file=sys.stderr)
    json.dump(
        {"cpus": cpus, "runs": args.runs, "copies": args.copies, "timings": timings},
        sys.stdout,
    )
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
