"""Scale probe: measured scaling behavior across sf0.001 → 0.01 → 0.1.

"Measure, don't guess": for each probed key, run the declared query at
all three shipped scale factors (same session, warmed) and report the
wall-clock plus the 0.01→0.1 growth ratio.  Data grows 10× per step —
a scale-safe plan should grow wall-clock well UNDER 10× at these sizes
(fixed job-submission cost amortizes; partial aggregation collapses
early), and must never grow super-linearly.

``--x10`` additionally materializes a SYNTHETIC 10×-sf0.1 slice
(events: 10 id/user-offset copies so per-user sequence lengths stay
realistic and the user universe grows 10×; documents: 10 tag-suffixed
copies so the chunk universe grows instead of collapsing into exact
dups) and probes the event/behavioral keys one decade beyond the
shipped corpus — the evidence that the one-exchange-per-operator claim
holds at larger n, not just at sf0.1.  It then materializes a
RELATIONAL 10×-sf0.1 slice (key-offset copies of lineitem/orders/
customer/part/supplier — disjoint key universes, so join fan-outs stay
realistic while key cardinality grows 10×; fixed dims copied) and
probes the full TPC-H suite plus the relational global-window keys one
decade beyond sf0.1 (6M lineitem rows).

``--xdedup`` probes the near-dup flagship keys over DEDUP-FAIR
synthetic corpora (per-copy token salting keeps near-dup density
constant while the corpus grows — see build_x10_dedup) at 10× AND
100× sf0.1 (500k docs): two measured decades for the candidate-
generation-is-linear claim.

``--xemb`` probes the embedding family (SRP near-dup, SemDeDup,
kNN/IVF/PQ search) over ROTATION-FAIR vector decades (per-copy seeded
orthogonal rotations preserve within-copy cosines exactly while
cross-copy cosines concentrate near 0 — see build_xemb) at 10× AND
100× sf0.1 (200k vectors).

``--xraster`` probes the three join/iteration-heavy grid keys
(region label, flow direction, flow accumulation) over synthetic
PIXEL decades (512² → 1600² → 5120², the gridbig recipe) through the
``queries.raster._probe_tiles`` env seam — the raster family's own
decade axis.

Every timed point is one warm ``.count()`` through
``runner.run_key`` (plan build + action), and every decade ladder runs
through one helper, ``_ladder``, which re-measures a gate-tripping
ladder once (``_noise_retry``) and prints both samples.

Usage: python tools/scale_probe.py [--x10] [--x100] [--xdedup]
[--xemb] [--xraster] [keys...]
(writes stdout; redirect to reports/scale_probe_rN.txt to commit
evidence)
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from raster2points_spark.runner import run_key
from raster2points_spark.session import get_spark

SFS = [
    ("sf0.001", "/root/testdata/sf0.001"),
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
]

# heavy / representative keys where super-linear growth would show
DEFAULT_KEYS = [
    "agg_groupby",
    "join_broadcast_star",
    "tpch_q3",
    "sessionize_batch",
    "rle_events",
    "dedup_exact",
    "dedup_near",
    "dedup_jaccard",
    "dedup_chunks",
    "text_tfidf",
    "text_unigram_ppl",
    "sim_knn",
    "pack_sequences",
    "reshape_unpivot",
    "anomaly_mad",
    # r6 late additions — the new iterative loops and candidate-driven
    # text kernels
    "tpch_q21",
    "text_bigram_ppl",
    "dedup_containment",
    "ml_kmeans_lloyd",
    "graph_shortest_hops",
    "ts_seasonal_decompose",
    # r6 continuation — chunk-df boilerplate (candidate-count-driven),
    # the widest new TPC-H joins, the k-ring NN and the DQ firewall
    "text_boilerplate",
    "spatial_nearest",
    "tpch_q7",
    "tpch_q8",
    "tpch_q10",
    "tpch_q19",
    "shuffle_shards",
    "dq_expectations",
    "ts_interpolate_linear",
    "win_range_frame",
]


# event-stream / behavioral keys probed at the synthetic 10×-sf0.1
# decade (plus the span-dedup key over the 10× document corpus)
X10_KEYS = [
    "sessionize_batch",
    "cohort_retention",
    "funnel_batch",
    "seq_transitions",
    "seq_markov",
    "rle_events",
    "anomaly_mad",
    "concurrency_peak",
    "attribution_first_touch",
    "funnel_latency",
    "audience_overlap",
    "dedup_chunks",
    # r6 continuation: chunk-df boilerplate over the 10x doc corpus,
    # the two-sided Arrow cogroup over the 10x event decade
    "text_boilerplate",
    "udf_cogrouped_map",
    # this-session additions over the 10x event/doc decades
    "cdc_net_changes",
    "hierarchy_rollup",
    "agg_kmv_set_ops",
    "agg_count_min_sketch",
    "stat_bootstrap_se",
    "ml_naive_bayes",
    "text_bm25",
    "text_phrase_near",
    "privacy_erasure_cascade",
]


# relational keys probed at the synthetic 10×-sf0.1 RELATIONAL decade
# (--x10rel): the TPC-H suite's heavy shapes plus the relational
# global-window keys whose collapsed-cardinality claim (lint allowlist)
# deserves a measured decade, and the two-pass rank-search median.
X10_REL_KEYS = [
    "tpch_q1",
    "tpch_q2",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "rfm_segments",
    "pareto_customers",
    "agg_gini",
    "agg_exact_median_twopass",
    "skyline_pareto_front",
    "join_salted",
]

# --x100: a SECOND relational decade (60M lineitem rows) for the
# heaviest shapes only — two measured decades beyond sf0.1 is the
# strongest extrapolation evidence this sandbox can produce.
# (graph_pagerank is excluded: its dst = l_partkey + 1e7 node-id
# arithmetic collides with offset orderkey copies, so the synthetic
# slice would change its topology, not just its size.)
X100_REL_KEYS = [
    "tpch_q1",
    "tpch_q9",
    "tpch_q18",
    "tpch_q21",
    "join_salted",
    "agg_exact_median_twopass",
]


def _memo_dir(src: str, tag: str, prefix: str, write) -> str:
    """A synthetic slice built once: ``write(tmp)`` fills a temp dir,
    renamed to ``/tmp/{prefix}_{digest}``.  The digest covers the source
    file's path, mtime and size plus the recipe ``tag``, so a changed
    source or recipe builds afresh (the same invalidation contract as
    the stream-slice and join_dpp caches); when two processes build the
    same slice at once, the first rename wins."""
    import hashlib
    import shutil

    st = os.stat(src)
    digest = hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_mtime}:{st.st_size}:{tag}".encode()
    ).hexdigest()[:10]
    out = os.path.join("/tmp", f"{prefix}_{digest}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    write(tmp)
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def build_x10_rel(src_dir: str, copies_n: int = 10) -> str:
    """Materialize the synthetic ``copies_n``×-sf0.1 RELATIONAL slice:
    key-offset copies of lineitem/orders/customer/part/supplier (each
    copy a disjoint key universe, so join fan-outs and per-key group
    sizes stay exactly realistic while every key universe grows
    ``copies_n``×, mirroring build_x10's event/user axis),
    nation/region copied unchanged (fixed-size dims per the TPC-H
    spec).  Cached on source mtime+size like build_x10."""
    import shutil

    import duckdb

    K = f"CROSS JOIN (SELECT unnest(range(0, {copies_n})) AS k) k"
    # strides exceed every key's max at sf0.1 (orderkey<=6e5, custkey
    # <=1.5e4, partkey<=2e4, suppkey<=1e3) so copies never collide
    O, C, P, S = 10_000_000, 1_000_000, 1_000_000, 100_000
    copies = {
        "lineitem": f"""
          SELECT l_orderkey + k.k * {O} AS l_orderkey,
                 l_partkey + k.k * {P} AS l_partkey,
                 l_suppkey + k.k * {S} AS l_suppkey,
                 l_linenumber, l_quantity, l_extendedprice, l_discount,
                 l_tax, l_returnflag, l_linestatus, l_shipdate
          FROM read_parquet('{src_dir}/lineitem.parquet') {K}""",
        "orders": f"""
          SELECT o_orderkey + k.k * {O} AS o_orderkey,
                 o_custkey + k.k * {C} AS o_custkey,
                 o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
          FROM read_parquet('{src_dir}/orders.parquet') {K}""",
        "customer": f"""
          SELECT c_custkey + k.k * {C} AS c_custkey,
                 c_name, c_nationkey, c_acctbal, c_mktsegment
          FROM read_parquet('{src_dir}/customer.parquet') {K}""",
        "part": f"""
          SELECT p_partkey + k.k * {P} AS p_partkey,
                 p_name, p_brand, p_type, p_size, p_retailprice
          FROM read_parquet('{src_dir}/part.parquet') {K}""",
        "supplier": f"""
          SELECT s_suppkey + k.k * {S} AS s_suppkey,
                 s_name, s_nationkey, s_acctbal
          FROM read_parquet('{src_dir}/supplier.parquet') {K}""",
    }

    def write(tmp):
        con = duckdb.connect()
        for name, sql in copies.items():
            con.execute(f"COPY ({sql}) TO '{tmp}/{name}.parquet' (FORMAT parquet)")
        for name in ("nation", "region"):
            shutil.copy(
                os.path.join(src_dir, f"{name}.parquet"),
                os.path.join(tmp, f"{name}.parquet"),
            )

    li = os.path.join(src_dir, "lineitem.parquet")
    return _memo_dir(li, f"x{copies_n}relv1", "r2p_x10rel", write)


def build_x10(src_dir: str) -> str:
    """Materialize the synthetic 10×-sf0.1 slice, cached on source
    mtime+size (same invalidation contract as the stream-slice and
    join_dpp caches)."""
    import duckdb

    ev = os.path.join(src_dir, "events.parquet")
    doc = os.path.join(src_dir, "documents.parquet")

    def write(tmp):
        con = duckdb.connect()
        # id/user offsets keep per-user sequence lengths identical while the
        # user universe grows 10× — the behavioral family's natural scale axis
        con.execute(
            f"""
            COPY (
              SELECT event_id + k.k * 10000000 AS event_id, ts,
                     user_id + k.k * 1000000 AS user_id, event_type, value, props
              FROM read_parquet('{ev}')
              CROSS JOIN (SELECT unnest(range(0, 10)) AS k) k
            ) TO '{tmp}/events.parquet' (FORMAT parquet)
            """
        )
        # tag-suffix the copies: the chunk/text universe grows ~10× instead of
        # collapsing into exact duplicates (which would change the workload)
        con.execute(
            f"""
            COPY (
              SELECT doc_id + k.k * 1000000 AS doc_id,
                     text || ' copytag' || cast(k.k AS varchar) AS text,
                     lang, source,
                     cast(length(text || ' copytag' || cast(k.k AS varchar)) AS bigint)
                       AS n_chars
              FROM read_parquet('{doc}')
              CROSS JOIN (SELECT unnest(range(0, 10)) AS k) k
            ) TO '{tmp}/documents.parquet' (FORMAT parquet)
            """
        )

    return _memo_dir(ev, "x10v1", "r2p_x10", write)


def build_x10_dedup(src_dir: str, copies_n: int = 10) -> str:
    """Materialize a DEDUP-FAIR ``copies_n``×-sf0.1 document slice.

    build_x10's ``copytag`` suffix is deliberately WRONG for the
    near-dup family: a one-token suffix leaves cross-copy Jaccard at
    ~0.99, so every doc gains ``copies_n - 1`` synthetic near-
    duplicates and candidate-pair counts grow ~copies²/2 — the slice
    would change near-dup DENSITY, not just corpus size.  Here every
    token is prefixed with a per-copy salt (``c{k}`` — lowercase, no
    space, so the ``split(lower(text), ' ')`` tokenizer sees exactly
    one token where it saw one before).  Each copy's token/shingle
    universe is therefore DISJOINT from every other copy's — the
    bijective rename preserves the original corpus's duplicate groups,
    shingle-df distribution, and LSH-bucket statistics within each
    copy, while the universe grows ``copies_n``× — the same
    key-offset axis build_x10_rel uses for the relational decade.
    """
    import duckdb

    doc = os.path.join(src_dir, "documents.parquet")

    def write(tmp):
        duckdb.connect().execute(
            f"""
            COPY (
              SELECT doc_id + k.k * 1000000 AS doc_id,
                     array_to_string(
                       list_transform(string_split(text, ' '),
                                      x -> 'c' || cast(k.k AS varchar) || x),
                       ' ') AS text,
                     lang, source,
                     cast(length(array_to_string(
                       list_transform(string_split(text, ' '),
                                      x -> 'c' || cast(k.k AS varchar) || x),
                       ' ')) AS bigint) AS n_chars
              FROM read_parquet('{doc}')
              CROSS JOIN (SELECT unnest(range(0, {copies_n})) AS k) k
            ) TO '{tmp}/documents.parquet' (FORMAT parquet)
            """
        )

    return _memo_dir(doc, f"dedup{copies_n}v1", "r2p_xdedup", write)


# the near-dup / content-dedup flagships probed over the dedup-fair
# decades: candidate generation must grow ~linearly with the corpus
# when near-dup density is held constant — the 100 TB claim for the
# whole family, measured.  text_tfidf rides along because its vocab
# universe also grows copies_n× (the unhinted vocab join's scale axis).
X_DEDUP_KEYS = [
    "dedup_exact",
    "dedup_near",
    "dedup_jaccard",
    "dedup_containment",
    "text_tfidf",
]


def _dedup_rows_linear(key: str, rows: list[int]) -> bool:
    """Result cardinality over the dedup-fair decades: copies are
    bijective renames, so the EXACT keys (inverted-index
    jaccard/containment, hash dedup, tf-idf) must land on exactly
    10x/100x rows — any deviation means candidate generation leaked
    across copy universes.  dedup_near is hash-dependent: salted
    shingles hash to different band minima, so a borderline pair's LSH
    recall re-rolls per copy (measured: 2559/2560 at x10 — one
    within-copy band miss, zero cross-copy pairs; the exact verify
    makes EXTRA rows impossible).  It gets the recall trade it already
    declares: >= 98% of linear, never above linear."""

    def lin(n, k):
        exp = k * rows[0]
        if key == "dedup_near":
            return int(0.98 * exp) <= n <= exp
        return n == exp

    return lin(rows[1], 10) and lin(rows[2], 100)


def build_xraster(n: int) -> str:
    """Materialize an n×n synthetic grid (the gridbig recipe: 64-px
    tiles, seed 7, 60%/95% NoData masks on b1/b2) in a size-keyed
    /tmp dir; returns the parquet path.  n must be a multiple of the
    64-px tile edge.  Pixel count grows with n², so n = 512 / 1600 /
    5120 gives the raster family its own ~10×/~100× PIXEL decades —
    the axis every other family already has (relational, events,
    dedup-fair documents, rotation-fair embeddings)."""
    import hashlib
    import inspect

    import pyarrow.parquet as pq

    from raster2points_spark.sources.tiles import gridbig_table

    # Memo dirs are keyed on a digest of the generator's SOURCE, not
    # just n, matching the build_x10_rel convention (r8 ADVICE): if
    # the gridbig recipe changes (seed, masks, tile layout), the
    # digest changes and stale pre-change grids can't be silently
    # reused by the os.path.exists skip below.
    recipe = hashlib.md5(inspect.getsource(gridbig_table).encode()).hexdigest()[:10]
    out = os.path.join("/tmp", f"r2p_xraster_{recipe}_{n}")
    p = os.path.join(out, "grid.parquet")
    if not os.path.exists(p):
        os.makedirs(out, exist_ok=True)
        tmp = p + ".tmp"
        pq.write_table(gridbig_table(n=n), tmp, compression="zstd")
        os.replace(tmp, p)
    return p


# the three join/iteration-heavy grid keys, parameterized through the
# queries.raster._probe_tiles env seam (unset env = shipped GRID64)
X_RASTER_KEYS = [
    "raster_region_label",
    "raster_flow_direction",
    "raster_flow_accumulation",
]
X_RASTER_SIZES = [(512, "x1"), (1600, "x10"), (5120, "x100")]


def build_xemb(src_dir: str, copies_n: int = 10) -> str:
    """Materialize an EMBEDDING-FAIR ``copies_n``×-sf0.1 vector slice.

    Each copy applies a seeded random ORTHOGONAL rotation (copy 0 is
    the identity): rotations preserve every within-copy cosine
    exactly — so per-copy near-dup structure, cluster geometry, and
    top-k neighborhoods are those of the base corpus — while
    cross-copy cosines concentrate near 0 (±1/√d).  This is the
    embedding analogue of the dedup decade's token salting.  Caveats
    the probe must respect: (a) hash-dependent blocking (SRP signs)
    re-rolls per copy, and at d = 64 a ~0.8% tail of cross-copy pairs
    exceeds cos 0.3 by chance, so result rows are NOT exactly linear
    for threshold keys — the embedding decade gates RUNTIME growth
    (plus constant-row checks for fixed-top-k keys), not row
    linearity; (b) id-anchored codebooks (vec_id < k) draw all
    anchors from copy 0, which is fine for capacity/runtime shape but
    not a semantic-quality measurement.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.join(src_dir, "embeddings.parquet")

    def write(tmp):
        t = pq.read_table(src)
        vec_id = t.column("vec_id").to_numpy()
        label = t.column("label").to_numpy()
        emb = np.asarray(t.column("embedding").to_pylist(), dtype=np.float32)
        d = emb.shape[1]
        ids, labs, mats = [], [], []
        for k in range(copies_n):
            if k == 0:
                rot = emb
            else:
                q, r = np.linalg.qr(
                    np.random.default_rng(k).standard_normal((d, d))
                )
                # canonicalize QR sign so the rotation is deterministic
                q = q * np.sign(np.diag(r))
                rot = (emb @ q.astype(np.float32)).astype(np.float32)
            ids.append(vec_id + k * 1_000_000)
            labs.append(label)
            mats.append(rot)
        allm = np.concatenate(mats)
        tbl = pa.table(
            {
                "vec_id": pa.array(np.concatenate(ids), type=pa.int64()),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(allm.reshape(-1), type=pa.float32()), d
                ).cast(pa.list_(pa.float32())),
                "label": pa.array(np.concatenate(labs), type=pa.int32()),
            }
        )
        pq.write_table(tbl, os.path.join(tmp, "embeddings.parquet"))

    return _memo_dir(src, f"emb{copies_n}v1", "r2p_xemb", write)


# embedding-family keys probed over the rotation decades.  "const"
# keys return a fixed-size top-k result whose cardinality must not
# move with corpus size; "report" keys' row counts are printed but
# not gated (SRP recall re-rolls per copy; ~0.8% chance tail of
# cross-copy cos>0.3 pairs at d=64).
X_EMB_KEYS = [
    ("dedup_embed", "report"),
    ("dedup_semantic_cluster", "report"),
    ("sim_knn", "const"),
    ("sim_ivf", "const"),
    ("embed_pq", "const"),
]



def _gate_ratios(times: list[float]) -> tuple[float, float]:
    """Per-step growth ratios FOR GATING, with sub-second denominators
    floored at 1 s (a denominator >= 1 s divides raw, untouched by the
    max): a sub-second step is fixed-cost-dominated (job submission,
    codegen), so a raw ratio off it measures fixed-cost amortization,
    not scaling — the r8 relation cache halved the sf0.1 dedup_near
    baseline (0.81->0.43 s) while x10/x100 times were unchanged, and
    the raw first-step ratio jumped 11x->23x with IDENTICAL scaling
    behavior.  Printed ratios stay raw; only the gate floors.

    The floor makes a PAIR lenient, so per-step ratios alone cannot
    carry the two-decade contract — see _gate_overall, which r9
    (VERDICT r8 #3 + ADVICE) made an absolute-growth check precisely
    because the product of two floored steps let a 0.2 -> 10 -> 90 s
    key (450x real growth) pass as 10 * 9 = 90."""
    g1 = times[1] / max(times[0], 1.0)
    g2 = times[2] / max(times[1], 1.0)
    return g1, g2


def _gate_overall(times: list[float]) -> float:
    """Two-decade growth for the sub-linearity gate: ABSOLUTE growth
    from the baseline with a fixed-cost ALLOWANCE instead of a 1 s
    floor.  The r9 max(times[0], 1) floor was weaker than its
    docstring claimed (r9 ADVICE): with a sub-second baseline it
    reduced to "x100 runtime < 100 s" regardless of growth shape, so
    the motivating 0.2 -> 10 -> 90 s key (450x real growth) still
    passed.  The allowance form gates times[2] >= 100*times[0] + 2
    (expressed as a ratio against times[0] + 0.02): the +2 s budget
    at x100 covers the measured fixed costs (job submission, codegen
    — sub-second per job on this box) without ever granting a
    sub-second key a free ride to 100 s.  0.2 -> 10 -> 90 now fails
    (90 >= 22); the r8 relation-cache artifact (0.47 -> 7.67 ->
    28.54, scaling unchanged while the baseline halved) still passes
    (28.54 < 49); for baselines >= 1 s it is within 2 s of the old
    raw gate."""
    return times[2] / (times[0] + 0.02)


def _runtime_gate_fails(times: list[float]) -> bool:
    """The three-point runtime gate shared by the decade axes."""
    g1, g2 = _gate_ratios(times)
    return g1 >= 15 or g2 >= 15 or _gate_overall(times) >= 100


def _noise_retry(measure, gate_fails):
    """Retry-on-gate-fail for wall-clock ladders (r9): a single
    sample per ladder point against hard ratio gates conflates plan
    cost with box noise — and noise on a shared machine is strictly
    ADDITIVE (GC pauses, co-tenant CPU, cold page cache can only
    inflate a sample), so when the first ladder trips its gate, one
    re-measure is the honest correction: a key that is REALLY
    super-linear fails both samples, while a one-off spike is
    absorbed.  The first r9 frozen-code run demonstrated the
    problem on implementation-unchanged keys: dedup_semantic_cluster's
    x10 point read 29.7 s against its own x100 at 28.3 s (a "26x"
    step followed by a flat decade — internally impossible except as
    an outlier), where the sealed r8 run of the same code had
    measured 12.0 s.

    The retry is gated as a WHOLE ladder (r9 ADVICE): the per-point
    min composite could mix points from different runs into a triple
    that never co-occurred, and could only ever flip fail->pass.  Now
    the second ladder must itself pass the gate as measured; if it
    also fails, the key fails on the retry ladder.  (The retry still
    runs warmer than the first — pages and codegen cached — which is
    inherent to retry-on-fail; both samples are printed so the
    committed evidence shows it.)

    Returns (times, rows, first_times, rows_mismatch): first_times is
    None when no retry fired, else the original ladder — the caller
    prints it so the committed evidence SHOWS the outlier instead of
    hiding it.  A rows mismatch between runs is real nondeterminism,
    never noise: rows_mismatch carries the retry's row counts (None
    when they matched) and EVERY caller must fail its section on it
    explicitly — r11 ADVICE: the pair sections discarded rows, so a
    nondeterministic key would have been committed as SUPER-LINEAR
    growth instead of as a row-count instability."""
    times, rows = measure()
    if not gate_fails(times):
        return times, rows, None, None
    t2, r2 = measure()
    if r2 != rows:
        return times, rows, None, r2
    return t2, rows, times, None


def _timed_counts(spark, key: str, points):
    """A ``measure`` for :func:`_ladder`: one warm ``.count()`` of
    ``key`` per ladder point through ``runner.run_key``.  A point is
    ``(sf_dir, env)``; ``env`` is set before the run (the raster probe's
    grid seam) and left for the caller to clear."""

    def measure():
        ts, rs = [], []
        for sf_dir, env in points:
            os.environ.update(env)
            r = run_key(spark, key, sf_dir, lambda df: df.count(), cold=False)
            ts.append(r["build_s"] + r["exec_s"])
            rs.append(r["result"])
        return ts, rs

    return measure


def _ladder(key, measure, gate_fails, rows_ok, width, ratio_widths, tail=None, what="ladder"):
    """One key's decade ladder: measure it (re-measured once by
    :func:`_noise_retry` when the gate trips), print its row and return
    ``(ratios, ok)`` — the per-step growth ratios and whether the key
    passes.  It fails when the gate trips on the ladder as measured or
    ``rows_ok(rows)`` is false.  Rows that change between the first run
    and the retry are nondeterminism, never noise: that prints its own
    line and fails with every ratio read as inf, so a worst-growth
    summary fails too."""
    times, rows, first, row_mis = _noise_retry(measure, gate_fails)
    if row_mis is not None:
        print(f"{key:{width}s} ROWS CHANGED BETWEEN RUNS: {rows} vs {row_mis} — nondeterministic")
    ratios = [b / max(a, 1e-9) for a, b in zip(times, times[1:])]
    print(
        f"{key:{width}s} "
        + " ".join(f"{t:8.2f}s" for t in times)
        + "".join(f" {r:{w}.1f}x" for r, w in zip(ratios, ratio_widths))
        + (tail(rows) if tail else "")
    )
    if first is not None:
        print(
            f"  ^ gate retry: first sample "
            f"{' '.join(f'{t:.2f}s' for t in first)}; "
            f"gated on the retry {what} as measured"
        )
    if row_mis is not None:
        return [math.inf] * len(ratios), False
    return ratios, not gate_fails(times) and rows_ok(rows)


def main() -> int:
    args = sys.argv[1:]
    x10 = "--x10" in args
    x100 = "--x100" in args
    xdedup = "--xdedup" in args
    xemb = "--xemb" in args
    xraster = "--xraster" in args
    args = [
        a for a in args if a not in ("--x10", "--x100", "--xdedup", "--xemb", "--xraster")
    ]
    keys = args or DEFAULT_KEYS
    spark = get_spark("scale_probe")
    sf01 = SFS[2][1]

    def warm_count(key, sf_dir=sf01):
        run_key(spark, key, sf_dir, lambda df: df.count(), cold=False)

    # warm the session (JVM, codegen, FS caches) so sf0.001 numbers
    # aren't dominated by cold-start
    warm_count("scan_parquet", SFS[0][1])
    print(f"{'key':22s} {'sf0.001':>9s} {'sf0.01':>9s} {'sf0.1':>9s} {'x(0.01->0.1)':>13s}")
    worst = 0.0
    for key in keys:
        times, _ = _timed_counts(spark, key, [(d, {}) for _, d in SFS])()
        ratio = times[2] / max(times[1], 1e-9)
        worst = max(worst, ratio)
        print(
            f"{key:22s} {times[0]:8.2f}s {times[1]:8.2f}s {times[2]:8.2f}s {ratio:12.1f}x"
        )
    print(
        f"\n10x data per step; worst 0.01->0.1 growth {worst:.1f}x "
        f"({'SUB-linear everywhere' if worst < 10 else 'SUPER-LINEAR KEY PRESENT'})"
    )
    # Runtime gate of the three-point decades (_runtime_gate_fails):
    # per-step growth approaches linear (10x work for 10x corpus IS
    # perfect scaling once fixed cost amortizes; 15x allows the
    # fixed-32-core single-node ceiling — measured core-bound, not
    # spill-bound: 256 shuffle partitions at x100 is SLOWER than 32
    # (68s vs 55s, pure scheduling overhead), so a cluster absorbs the
    # step with more executors, not more partitions).  The two decades
    # together must stay sub-linear: < 100x ABSOLUTE runtime growth for
    # a 100x corpus (r9: was the product of two floored step ratios,
    # which under-counted).
    def decades(keys, points, width, ratio_widths, rows_ok, tail):
        """Each key's three-point ladder over ``points``; True when any
        key fails.  A warm run at the first point comes first: the
        fresh-JVM / FS-cache cost otherwise lands entirely on the
        baseline and fakes a super-linear first step."""
        fail = False
        for key in keys:
            os.environ.update(points[0][1])
            warm_count(key, points[0][0])
            measure = _timed_counts(spark, key, points)
            _, ok = _ladder(
                key, measure, _runtime_gate_fails, lambda rows: rows_ok(key, rows), width,
                ratio_widths, lambda rows: tail(key, rows),
            )
            fail |= not ok
        return fail

    dd_fail = False
    if xdedup:
        dd10 = build_x10_dedup(sf01, copies_n=10)
        dd100 = build_x10_dedup(sf01, copies_n=100)
        print(f"\n--xdedup: dedup-fair doc decades at {dd10} / {dd100}")
        print(
            f"{'key':22s} {'sf0.1':>9s} {'x10':>9s} {'x100':>9s} "
            f"{'x(0.1->x10)':>12s} {'x(x10->x100)':>13s} {'rows linear':>12s}"
        )
        dd_fail = decades(
            X_DEDUP_KEYS, [(d, {}) for d in (sf01, dd10, dd100)], 22, (11, 12), _dedup_rows_linear,
            lambda key, rows: f" {'yes' if _dedup_rows_linear(key, rows) else 'NO':>12s}",
        )
        print(
            f"\ndedup decades: result rows linear per corpus decade (exact keys "
            f"bit-exact at 10x/100x; LSH recall >= 98% of linear, never above — "
            f"candidate generation never crosses copy universes); runtime "
            f"{'sub-linear overall (< 100x for 100x corpus)' if not dd_fail else 'GATE FAILED'}"
        )

    emb_fail = False
    if xemb:
        em10 = build_xemb(sf01, copies_n=10)
        em100 = build_xemb(sf01, copies_n=100)
        print(f"\n--xemb: rotation-fair embedding decades at {em10} / {em100}")
        print(
            f"{'key':24s} {'sf0.1':>9s} {'x10':>9s} {'x100':>9s} "
            f"{'x(0.1->x10)':>12s} {'x(x10->x100)':>13s} {'rows':>22s}"
        )
        modes = dict(X_EMB_KEYS)
        emb_fail = decades(
            list(modes), [(d, {}) for d in (sf01, em10, em100)], 24, (11, 12),
            lambda key, rows: modes[key] != "const" or rows[0] == rows[1] == rows[2],
            lambda key, rows: f" {str(rows):>22s}",
        )
        print(
            f"\nembedding decades: fixed-top-k keys constant-row; runtime "
            f"{'sub-linear overall (< 100x for 100x vectors)' if not emb_fail else 'GATE FAILED'}"
        )

    raster_fail = False
    if xraster:
        points = [
            (sf01, {"SPARK_GRAFT_RASTER_GRID": build_xraster(n), "SPARK_GRAFT_RASTER_W": str(n)})
            for n, _ in X_RASTER_SIZES
        ]
        print(
            f"\n--xraster: synthetic pixel decades at "
            f"{', '.join(f'{t}={n}x{n}' for n, t in X_RASTER_SIZES)}"
        )
        print(
            f"{'key':26s} {'x1':>9s} {'x10':>9s} {'x100':>9s} "
            f"{'x(1->10)':>9s} {'x(10->100)':>11s} {'rows':>26s}"
        )
        try:
            # rows track valid-pixel count (deterministic per size):
            # each ~10x pixel decade must grow result rows ~10x — a
            # flat or super-linear row count means the key silently
            # truncated or blew up its pair space
            raster_fail = decades(
                X_RASTER_KEYS, points, 26, (8, 10),
                lambda key, rows: all(8.0 <= b / max(a, 1) <= 12.5 for a, b in zip(rows, rows[1:])),
                lambda key, rows: f" {str(rows):>26s}",
            )
        finally:
            os.environ.pop("SPARK_GRAFT_RASTER_GRID", None)
            os.environ.pop("SPARK_GRAFT_RASTER_W", None)
        print(
            f"\nraster decades: rows track valid pixels per ~10x decade; runtime "
            f"{'sub-linear overall (< 100x for 100x pixels)' if not raster_fail else 'GATE FAILED'}"
        )

    if not x10:
        return 0 if worst < 10 and not dd_fail and not emb_fail and not raster_fail else 1

    # pair sections share the r9 retry-on-gate-fail discipline the
    # wall-clock ladders use: one sample per point against a hard
    # ratio gate conflates plan cost with additive box noise (both
    # r11 chain runs tripped a DIFFERENT single key on a one-off
    # sample — flow_direction 16x then tpch_q6 22x — each green on
    # re-measure); the retry pair must itself pass as measured
    def pair_section(title, keys, dirs, width, header, what):
        print(f"\n{title} slice at {dirs[1]}")
        print(f"{'key':{width}s} {header}")
        worst = 0.0
        for key in keys:
            (ratio,), _ = _ladder(
                key, _timed_counts(spark, key, [(d, {}) for d in dirs]),
                lambda t: t[1] / max(t[0], 1e-9) >= 10, lambda rows: True, width, (11,),
                what="pair",
            )
            worst = max(worst, ratio)
        print(
            f"\nworst {what} growth {worst:.1f}x "
            f"({'SUB-linear everywhere' if worst < 10 else 'SUPER-LINEAR KEY PRESENT'})"
        )
        return worst

    header = f"{'sf0.1':>9s} {'x10':>9s} {'x(0.1->x10)':>12s}"
    worst10 = pair_section(
        "--x10: synthetic 10x-sf0.1", X10_KEYS, (sf01, build_x10(sf01)), 22, header, "0.1->x10"
    )
    rel_dir = build_x10_rel(sf01)
    worst_rel = pair_section(
        "--x10 relational: synthetic 10x-sf0.1", X10_REL_KEYS, (sf01, rel_dir), 26,
        header, "relational 0.1->x10",
    )
    if x100:
        worst100 = pair_section(
            "--x100 relational: synthetic 100x-sf0.1", X100_REL_KEYS,
            (rel_dir, build_x10_rel(sf01, copies_n=100)), 26,
            f"{'x10':>9s} {'x100':>9s} {'x(x10->x100)':>13s}", "relational x10->x100",
        )
        if worst100 >= 10:
            return 1

    return (
        0
        if worst < 10
        and worst10 < 10
        and worst_rel < 10
        and not dd_fail
        and not emb_fail
        and not raster_fail
        else 1
    )


if __name__ == "__main__":
    raise SystemExit(main())
