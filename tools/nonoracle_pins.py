"""Machine-readable unit-pin evidence for every non-oracle registry key.

The 11 keys SURVEY §2 declares non-oracle (all rows-only since r10 —
the 3 streaming keys were promoted from smoke with declared
batch-equivalence contracts) can't be hash-checked against DuckDB, so
their correctness
evidence lived only in `tests/` — invisible to the per-round driver
record (r8 VERDICT #4).  This tool re-runs each key's quantitative pin
and emits one PASS/FAIL line per key WITH the measured quantity and
its bound, so the non-oracle tail carries committed, machine-readable
evidence (`reports/nonoracle_pins_r{N}.txt`, this tool's stdout).

The pin set is self-syncing: the tool HARD-FAILS if its keys drift
from the registry's actual non-oracle set, and
tests/test_nonoracle_pins.py enforces the same statically plus that
the newest committed report covers every key green.

Pin sources (kept in lock-step with the equivalent pytest pins):
- bpe_train            tests/test_llm.py::test_bpe_train_matches_reference_implementation
- agg_hll_partial_merge tests/test_llm.py::test_hll_partial_merge_accuracy
- text_compression_ratio tests/test_properties.py::test_compression_ratio_matches_plain_zlib
- agg_approx_percentile tests/test_properties.py::test_approx_percentile_rank_error_bound
- stream_watermark / stream_dedup_state tests/test_streaming.py
- the rest are defined here (and exercised by the full-registry gates)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"

PINS: dict[str, object] = {}


def pin(key: str):
    def deco(fn):
        PINS[key] = fn
        return fn

    return deco


# ---------------------------------------------------------------- sketches


@pin("agg_approx_distinct")
def _approx_distinct(spark, reg):
    """HLL++ (rsd=0.02): every per-type estimate within 3x rsd of the
    exact distinct count."""
    from pyspark.sql import functions as F

    from raster2points_spark.io import table

    out = {
        r.event_type: r.approx_users
        for r in reg["agg_approx_distinct"].fn(spark, SF001).collect()
    }
    exact = {
        r.event_type: r.n
        for r in table(spark, SF001, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    mx = max(abs(out[t] - n) / n for t, n in exact.items())
    return mx <= 0.06, (
        f"max HLL++ rel err {mx:.4f} <= 0.06 (3x rsd=0.02) "
        f"over {len(exact)} event types at sf0.01"
    )


@pin("agg_approx_percentile")
def _approx_percentile(spark, reg):
    """GK sketch: each estimate's rank in the exact sorted values
    within 1% of the requested rank."""
    import bisect

    rows = reg["agg_approx_percentile"].fn(spark, SF001).collect()
    li = spark.read.parquet(f"{SF001}/lineitem.parquet")
    worst = 0.0
    for r in rows:
        vals = sorted(
            x.l_extendedprice
            for x in li.filter(li.l_returnflag == r.l_returnflag)
            .select("l_extendedprice")
            .collect()
        )
        n = len(vals)
        if n != r.n:
            return False, f"group {r.l_returnflag}: n {r.n} != exact {n}"
        for q, est in ((0.5, r.p50), (0.9, r.p90), (0.99, r.p99)):
            rank_err = abs(bisect.bisect_left(vals, est) - q * n) / n
            worst = max(worst, rank_err)
    return worst <= 0.01, (
        f"max rank error {worst:.5f} <= 0.01 across "
        f"{len(rows)} groups x {{p50,p90,p99}} at sf0.01"
    )


@pin("agg_hll_partial_merge")
def _hll_partial_merge(spark, reg):
    """Hand-rolled HLL partials: per-source AND merged estimates
    within 5% of exact (doc_id unique => exact == row count)."""
    from pyspark.sql import functions as F

    out = {
        r.source: r for r in reg["agg_hll_partial_merge"].fn(spark, SF001).collect()
    }
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    exact = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    total = docs.count()
    if out["__ALL__"].n_rows != total:
        return False, f"__ALL__ n_rows {out['__ALL__'].n_rows} != {total}"
    errs = [abs(out["__ALL__"].est_distinct - total) / total]
    errs += [abs(out[s].est_distinct - n) / n for s, n in exact.items()]
    mx = max(errs)
    return mx <= 0.05, (
        f"max HLL rel err {mx:.4f} <= 0.05 over {len(exact)} sources + merged "
        f"__ALL__ at sf0.01 (merged partials, not a re-scan)"
    )


# ---------------------------------------------------------------- trainers


@pin("bpe_train")
def _bpe_train(spark, reg):
    """Distributed trainer learns the EXACT merge sequence a
    sequential Sennrich-style reference learns (same tiebreak)."""
    from collections import Counter

    import pyarrow.parquet as pq

    from raster2points_spark.queries.llm import N_BPE_MERGES

    texts = (
        pq.read_table(f"{SF0001}/documents.parquet", columns=["text"])
        .column("text")
        .to_pylist()
    )
    words = Counter()
    for t_ in texts:
        for w in t_.lower().split(" "):
            if w:
                words[w] += 1
    vocab = Counter()
    for w, n in words.items():
        vocab[tuple(w)] += n
    want = []
    for rank in range(N_BPE_MERGES):
        pc = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        want.append((rank, a, b, cnt))
        new_vocab = Counter()
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += n
        vocab = new_vocab
    got = [tuple(r) for r in reg["bpe_train"].fn(spark, SF0001).orderBy("rank").collect()]
    return got == want, (
        f"{len(want)} merges exact-match the pure-Python reference "
        f"(rank, pair, count all equal) at sf0.001"
    )


# ---------------------------------------------------------------- mapInPandas


@pin("text_compression_ratio")
def _compression_ratio(spark, reg):
    """mapInPandas zlib-6 ratio equals plain-Python zlib for every doc."""
    import zlib

    out = {
        r["doc_id"]: (r["raw_bytes"], r["comp_bytes"], r["ratio"])
        for r in reg["text_compression_ratio"].fn(spark, SF001).collect()
    }
    docs = spark.read.parquet(f"{SF001}/documents.parquet").collect()
    if len(out) != len(docs):
        return False, f"{len(out)} rows != {len(docs)} docs"
    for d in docs:
        raw = d["text"].encode("utf-8")
        comp = len(zlib.compress(raw, 6))
        got = out[d["doc_id"]]
        if got[0] != len(raw) or got[1] != comp:
            return False, f"doc {d['doc_id']}: byte counts {got[:2]} != ({len(raw)}, {comp})"
        if abs(got[2] - round(comp / len(raw), 4)) > 1e-9:
            return False, f"doc {d['doc_id']}: ratio {got[2]}"
    return True, (
        f"raw/compressed byte counts + ratio bit-equal plain zlib-6 "
        f"for all {len(docs)} docs at sf0.01"
    )


@pin("mm_features")
def _mm_features(spark, reg):
    """Byte statistics (mean, distinct, Shannon entropy) over every
    payload equal an independent pure-Python recomputation."""
    import math
    from collections import Counter

    out = {r.doc_id: r for r in reg["mm_features"].fn(spark, SF0001).collect()}
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select("doc_id", "text").collect()
    if len(out) != len(docs):
        return False, f"{len(out)} rows != {len(docs)} docs"
    worst = 0.0
    for d in docs:
        b = d["text"].encode("utf-8")
        got = out[d["doc_id"]]
        hist = Counter(b)
        ent = -sum((c / len(b)) * math.log2(c / len(b)) for c in hist.values())
        if got.n_bytes != len(b) or got.n_distinct_bytes != len(hist):
            return False, f"doc {d['doc_id']}: byte counts differ"
        if abs(got.mean_byte - round(sum(b) / len(b), 4)) > 1e-9:
            return False, f"doc {d['doc_id']}: mean_byte {got.mean_byte}"
        worst = max(worst, abs(got.entropy_bits - ent))
    return worst <= 1e-3, (
        f"entropy/mean/distinct equal pure-Python recomputation for all "
        f"{len(docs)} payloads (max entropy delta {worst:.2e} bits) at sf0.001"
    )


# ---------------------------------------------------------------- ANN surface


@pin("sim_lsh")
def _sim_lsh(spark, reg):
    """MLlib BucketedRandomProjectionLSH: no invented pairs (every
    returned pair's true distance <= threshold and matches the
    reported value); recall vs brute force reported.  Pinned at sf0.1
    — the only shipped scale where pairs within the tau=1.0 radius
    exist at all (sf0.001/0.01 have 0/1), so the pin isn't vacuous."""
    import numpy as np

    sf = "/root/testdata/sf0.1"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in emb])
    m = np.array([r.embedding for r in emb], dtype=np.float64)
    g = m @ m.T  # gram trick: ||a-b||^2 = |a|^2 + |b|^2 - 2ab
    sq = np.diag(g)
    d2 = np.maximum(sq[:, None] + sq[None, :] - 2 * g, 0.0)
    iu = np.triu_indices(len(ids), k=1)
    dist = np.sqrt(d2[iu])
    truth = {
        (int(min(a, b)), int(max(a, b))): float(dd)
        for a, b, dd in zip(ids[iu[0]], ids[iu[1]], dist)
    }
    exhaustive = {k for k, v in truth.items() if v <= 1.0}
    out = reg["sim_lsh"].fn(spark, sf).collect()
    worst = 0.0
    for r in out:
        k = (int(min(r.vec_a, r.vec_b)), int(max(r.vec_a, r.vec_b)))
        if k not in exhaustive:
            return False, f"invented pair {k} (true dist {truth.get(k)})"
        worst = max(worst, abs(r.euclid - round(truth[k], 4)))
    recall = len(out) / max(len(exhaustive), 1)
    return worst <= 5e-4 and recall <= 1.0 and len(exhaustive) > 0, (
        f"{len(out)}/{len(exhaustive)} true pairs found (recall "
        f"{recall:.2%}, never >100%), distances exact to 4dp "
        f"(max delta {worst:.1e}) at sf0.1"
    )


@pin("dedup_minhash_ml")
def _minhash_ml(spark, reg):
    """MLlib MinHashLSH: every returned pair is a true near-dup under
    exact shingle Jaccard (distance within HashingTF-collision slack),
    recall vs the exhaustive tau=0.5 join reported."""
    from pyspark.sql import functions as F

    from raster2points_spark.queries.llm import _SHINGLES_SPARK, TOKS_SPARK

    sh = {
        r.doc_id: set(r.sh)
        for r in spark.read.parquet(f"{SF0001}/documents.parquet")
        .withColumn("toks", F.expr(TOKS_SPARK))
        .select("doc_id", F.expr(_SHINGLES_SPARK).alias("sh"))
        .filter(F.size("sh") > 0)
        .collect()
    }

    def jdist(a, b):
        sa, sb = sh[a], sh[b]
        return 1.0 - len(sa & sb) / len(sa | sb)

    keys = sorted(sh)
    exhaustive = {
        (a, b)
        for i, a in enumerate(keys)
        for b in keys[i + 1 :]
        if jdist(a, b) <= 0.5
    }
    out = reg["dedup_minhash_ml"].fn(spark, SF0001).collect()
    worst = 0.0
    for r in out:
        true_d = jdist(r.doc_a, r.doc_b)
        # MLlib computes Jaccard over HashingTF's 2^18 hashed shingle
        # space — collisions can only SHRINK the reported distance
        if true_d > 0.52:
            return False, f"pair ({r.doc_a},{r.doc_b}) true dist {true_d:.3f} > 0.52"
        worst = max(worst, abs(r.jaccard_dist - round(true_d, 4)))
    recall = len(out) / max(len(exhaustive), 1)
    return worst <= 0.02 and recall <= 1.0, (
        f"{len(out)}/{len(exhaustive)} true tau=0.5 pairs (recall "
        f"{recall:.2%}, never >100%), reported dist within 0.02 of exact "
        f"shingle Jaccard (max delta {worst:.4f}) at sf0.001"
    )


# ---------------------------------------------------------------- streaming


@pin("stream_watermark")
def _stream_watermark(spark, reg):
    """Watermarked tumbling agg over bounded replay: every emitted
    window matches the batch tumbling aggregate exactly (append mode
    may close late windows; it must never invent or mis-count)."""
    from pyspark.sql import functions as F

    from raster2points_spark.io import table
    from raster2points_spark.queries._util import unix_secs

    out = reg["stream_watermark"].fn(spark, SF0001).collect()
    if not out:
        return False, "no rows emitted"
    batch = {
        (r.ws, r.event_type): r.n
        for r in table(spark, SF0001, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(unix_secs(F.col("w.start")).alias("ws"), "event_type", "n")
        .collect()
    }
    for r in out:
        if r.ws % 3600 != 0:
            return False, f"window start {r.ws} not hour-aligned"
        if batch.get((r.ws, r.event_type)) != r.n:
            return False, f"window ({r.ws},{r.event_type}): n {r.n} != batch"
    return True, (
        f"{len(out)}/{len(batch)} closed windows, each hour-aligned and "
        f"count-equal to the batch tumbling aggregate at sf0.001"
    )


@pin("stream_dedup_state")
def _stream_dedup(spark, reg):
    """event_id unique => stateful dropDuplicates must be a no-op:
    per-type streamed counts equal batch counts."""
    from pyspark.sql import functions as F

    from raster2points_spark.io import table

    out = {
        r.event_type: r.n for r in reg["stream_dedup_state"].fn(spark, SF0001).collect()
    }
    batch = {
        r.event_type: r.n
        for r in table(spark, SF0001, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    return out == batch, (
        f"per-type counts equal batch for all {len(batch)} event types "
        f"(stateful dedup dropped nothing; corpus event_ids unique) at sf0.001"
    )


@pin("stream_custom_state")
def _stream_custom(spark, reg):
    """applyInPandasWithState running counter: final per-user state
    equals the batch per-user event count for every user."""
    from pyspark.sql import functions as F

    from raster2points_spark.io import table

    out = {r.user_id: r.n_events for r in reg["stream_custom_state"].fn(spark, SF0001).collect()}
    batch = {
        r.user_id: r.n
        for r in table(spark, SF0001, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    return out == batch, (
        f"final per-user state equals batch counts for all {len(batch)} "
        f"users (state survived micro-batches, no loss/double-count) at sf0.001"
    )


# ---------------------------------------------------------------- driver


def main() -> int:
    from raster2points_spark.registry import load_all
    from raster2points_spark.session import get_spark

    reg = load_all()
    nonoracle = {k: s.check for k, s in reg.items() if s.check != "oracle"}
    if set(PINS) != set(nonoracle):
        missing = set(nonoracle) - set(PINS)
        extra = set(PINS) - set(nonoracle)
        print(f"PIN SET OUT OF SYNC: missing={sorted(missing)} extra={sorted(extra)}")
        return 2

    spark = get_spark("nonoracle_pins")
    print(
        f"== non-oracle unit-pin evidence: {len(PINS)} keys "
        f"({sum(1 for c in nonoracle.values() if c == 'rows-only')} rows-only + "
        f"{sum(1 for c in nonoracle.values() if c == 'smoke')} smoke) =="
    )
    n_fail = 0
    for key in sorted(PINS):
        try:
            ok, evidence = PINS[key](spark, reg)
        except Exception as exc:  # a crashed pin is a failed pin
            ok, evidence = False, f"pin raised: {exc}"
        n_fail += 0 if ok else 1
        print(f"{'PASS' if ok else 'FAIL'} {key:24s} [{nonoracle[key]:9s}] {evidence}")
    print(f"\n{len(PINS)} pins: {len(PINS) - n_fail} PASS, {n_fail} FAIL")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
