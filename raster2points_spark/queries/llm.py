"""§2.9 LLM-data-pipeline operators over documents/embeddings.

Scale notes (the 100 TB story per operator):
- dedup_exact: hash-groupBy — map-side partial agg, shuffle carries one
  row per distinct hash, not per doc.
- dedup_jaccard / dedup_containment: shingle equi-join — docs pair
  ONLY when they share a 3-gram shingle (inverted-index join), never
  an O(n²) cross join; set sizes are a groupBy(doc_id) count of the
  df-capped index, joined to the pairs unhinted.
- dedup_near: hand-rolled MinHash+LSH — signatures are per-row
  array_min(transform(...)) projections (zero token-level shuffle),
  band-bucket join generates candidates, exact verify intersects the
  two shingle arrays in-row; the signature relation is persisted once
  (the LSH index a dedup service would materialize).  MLlib variant
  kept as dedup_minhash_ml.
- dedup_simhash / text_rolling_hash: pure projection pipelines — the
  per-bit votes / rolling fold never leave the row.
- sim_knn: probe set is broadcast; corpus side is a single linear scan
  with JVM-side higher-order-function dot products (no shuffle of the
  corpus, no Python in the hot path).  sim_ivf adds a broadcast
  codebook + persisted assignment index for cluster-pruned search.
- text_*: pure built-in expressions → whole-stage codegen.

Expression-level rule learned the hard way: lambdas must not CAPTURE
outer computed columns (see _SHINGLES_SPARK comment) — Catalyst's
project-collapse can inline the captured expr and re-evaluate it per
array element.

Determinism (SURVEY §7 R1/R2): every float is round()'d identically in
Spark and oracle SQL; every ranking orders by the ROUNDED value with a
total-order tiebreak.

Reference parity: the reference (wri/raster2points) has none of these;
they are the BASELINE.json:6 north-star mandate ([N] rows in SURVEY §2.9).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from raster2points_spark.registry import register
from raster2points_spark.queries._util import SCRATCH, bucket, bucket_sql, daily_rollup, t, t_fanout

# Tokenizer twins — identical semantics, engine-native syntax.
TOKS_SPARK = "filter(split(lower(text), ' '), x -> x != '')"
TOKS_DUCK = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

# Shingles seen in more documents than this are dropped from the
# dedup_jaccard inverted index (and from the Jaccard universe) — the
# df-cap that keeps one ubiquitous shingle from exploding the candidate
# self-join quadratically.  Constant so the DuckDB oracle can embed it.
MAX_SHINGLE_DF = 100


def hash_bucket(prefix: str, col="doc_id", mod: int = 1000):
    """Keyed md5 bucket in [0, mod): the engine-independent
    reproducible-sampling primitive shared by sample_split ('split#')
    and sample_mixture / pipeline_train_ready ('mix#').  One definition
    so a salt or width change cannot silently diverge the pipeline from
    its standalone operators; each oracle carries the same formula as
    cast(concat('0x', substr(md5(concat(prefix, cast(doc_id AS
    varchar))), 1, 15)) AS bigint) % mod."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(prefix), c.cast("string"))), 1, 15), 16, 10)
        .cast("bigint")
        % mod
    )



@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on md5(text), survivor = min doc_id."""
    return (
        t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


# CAPTURE-FREE shingle builder: the transform lambda touches only its
# own argument (a zipped struct), never an outer column.  A lambda that
# captures `toks` re-evaluates it PER ELEMENT whenever Catalyst's
# project-collapse inlines the tokenizer into this expression
# (measured 150x at sf0.1 — and a >500x hang when the whole shingle
# expr was further inlined 12x into minhash signatures).  With
# arrays_zip/slice the expression stays cheap no matter where the
# optimizer draws projection boundaries.  Operates on a `toks` column.
_SHINGLES_SPARK = (
    "CASE WHEN size(toks) >= 3 THEN "
    "array_distinct(transform("
    "arrays_zip(slice(toks, 1, size(toks) - 2), slice(toks, 2, size(toks) - 2), "
    "slice(toks, 3, size(toks) - 2)), "
    "z -> concat_ws(' ', z.`0`, z.`1`, z.`2`))) "
    "ELSE array() END"
)

_SHINGLES_DUCK = (
    f"CASE WHEN len({TOKS_DUCK}) >= 3 THEN "
    f"list_distinct(list_transform(generate_series(1, len({TOKS_DUCK}) - 2), "
    f"i -> concat_ws(' ', {TOKS_DUCK}[i], {TOKS_DUCK}[i+1], {TOKS_DUCK}[i+2]))) "
    "ELSE [] END"
)


_SH_INNER_DUCK = f"""sh AS (
        SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents
    )"""

_SH_CTE_DUCK = "\n    WITH " + _SH_INNER_DUCK + "\n"

# CTE chain sh → df → kept → sizes, inter(doc_a, doc_b, n_inter): the
# df-capped shingle inverted index and its self-join, shared by
# dedup_jaccard and dedup_containment (_shingle_overlap is the Spark twin).
_OVERLAP_CTES_DUCK = f"""
    WITH {_SH_INNER_DUCK},
    df AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}),
    kept AS (SELECT s.doc_id, s.shingle FROM sh s JOIN df USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
"""


def _shingle_index(spark, sf_dir):
    """(doc_id, shingle) per distinct 3-gram shingle of each document,
    persisted: one tokenize+shingle pass feeds every consumer."""
    return (
        t_fanout(spark, sf_dir, "documents")
        .withColumn("toks", F.expr(TOKS_SPARK))
        .select("doc_id", F.explode(F.expr(_SHINGLES_SPARK)).alias("shingle"))
        .persist()
    )


def _shingle_overlap(spark, sf_dir):
    """``(inter, sizes)`` over the df-capped shingle inverted index:
    ``inter`` holds (doc_a, doc_b, n_inter) for every pair sharing a
    kept shingle (doc_a < doc_b), ``sizes`` (doc_id, n) each document's
    kept-shingle count.

    Shingles appearing in > MAX_SHINGLE_DF documents are dropped BEFORE
    the self-join — one ubiquitous shingle ("in the") otherwise
    generates O(df²) candidate pairs; both engines measure over the
    same capped universe, so the oracles still hash-match.  (A
    count-window over shingle would cap in "one" shuffle, but window
    exec sorts every partition and gets no map-side combine — measured
    20-40% slower than groupBy+join at sf0.1.)
    """
    sh = _shingle_index(spark, sf_dir)
    df_ok = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("shingle")
    )
    kept = sh.join(df_ok, "shingle").persist()
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = kept.alias("a")
    b = kept.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return inter, sizes


@register(
    "dedup_jaccard",
    oracle=_OVERLAP_CTES_DUCK
    + """
    SELECT doc_a, doc_b,
           round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.4
    """,
)
def dedup_jaccard(spark, sf_dir):
    """Near-dup pairs by 3-gram shingle Jaccard >= 0.4 over the
    document-frequency-capped shingle universe (_shingle_overlap).

    Inverted-index join: only docs sharing a shingle ever meet, so the
    shuffle is proportional to shared-shingle pairs, not |docs|².  Set
    sizes join the (one-row-per-doc) pair relation WITHOUT a broadcast
    hint: at corpus scale the sizes table does not fit in an executor,
    so this must stay a shuffle join; AQE demotes it to broadcast
    automatically when it is genuinely small.
    """
    inter, sizes = _shingle_overlap(spark, sf_dir)
    jac = F.col("n_inter") * F.lit(1.0) / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter"))
    return (
        inter.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.4)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# MinHash machinery shared by dedup_near and its oracle: 12 seeded
# md5-derived hash functions, banded 4x3.  md5→bigint parity between
# Spark (conv hex) and DuckDB (0x-prefix cast) is the same trick
# dedup_simhash uses.  Spark computes each signature per-row with
# array_min(transform(sh, ...)) — a pure projection, NO token-level
# shuffle; the DuckDB oracle states the same thing as min() over an
# unnested CTE.
_N_HASH, _N_BANDS, _BAND_W = 12, 4, 3
_MH_ARR_SPARK = [
    f"array_min(transform(sh, s -> "
    f"cast(conv(substring(md5(concat(s, '#{j}')), 1, 15), 16, 10) AS bigint))) AS h{j}"
    for j in range(_N_HASH)
]
_MH_DUCK = [
    f"min(cast(concat('0x', substr(md5(shingle || '#{j}'), 1, 15)) AS bigint)) AS h{j}"
    for j in range(_N_HASH)
]
_BANDS = [
    (b, ", ".join(f"h{b * _BAND_W + i}" for i in range(_BAND_W))) for b in range(_N_BANDS)
]
_BAND_STACK_SPARK = "stack({}, {}) AS (band_idx, band_val)".format(
    _N_BANDS, ", ".join(f"{b}, concat_ws(':', {cols})" for b, cols in _BANDS)
)
_BAND_UNION_DUCK = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, concat_ws(':', {cols}) AS band_val FROM sigs"
    for b, cols in _BANDS
)

# CTE chain sh → ... → near(doc_a, doc_b, jaccard): the full MinHash-LSH
# near-dup pair pipeline, shared by dedup_near and dedup_components.
_NEAR_PAIR_CTES = f"""
    sigs AS (SELECT doc_id, {", ".join(_MH_DUCK)} FROM sh GROUP BY doc_id),
    bands AS ({_BAND_UNION_DUCK}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    near AS (
        SELECT i.doc_a, i.doc_b,
               round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 4) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.4
    )
"""


@register(
    "dedup_near",
    oracle=_SH_CTE_DUCK
    + ", "
    + _NEAR_PAIR_CTES
    + """
    SELECT doc_a, doc_b, jaccard FROM near
    """,
)
def dedup_near(spark, sf_dir):
    """MinHash+LSH near-dup: 12 seeded minhashes → 4 bands of 3 →
    band-bucket join → exact-Jaccard verify of candidates only.

    Hand-rolled in pure built-in expressions (md5 hash family), so it
    is fully deterministic and DuckDB-oracle-checked — unlike MLlib's
    MinHashLSH (kept as dedup_minhash_ml).  This is the sub-quadratic
    scale path, shuffle-minimal by construction:
    - signatures: array_min(transform(...)) per row — a projection,
      no token-level shuffle anywhere in the plan;
    - the band self-join only ever pairs docs agreeing on a full band;
    - the exact verify fetches the two shingle ARRAYS per candidate
      pair and intersects them in-row (array_intersect), instead of
      re-exploding the corpus into a 3-way join + count shuffle.
    Recall vs the exhaustive dedup_jaccard is the usual LSH trade and
    is inspectable since both are oracle-checked at the same τ.
    """
    docs = (
        t_fanout(spark, sf_dir, "documents")
        .withColumn("toks", F.expr(TOKS_SPARK))
        .select("doc_id", F.expr(_SHINGLES_SPARK).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    # One persist covers every reuse: the band self-join reads the
    # signature columns twice and the verify stage reads `sh` twice.
    # Without it Spark re-executes the md5-heavy subplan once per use
    # (4x the hash work); with it, signatures+shingles are computed
    # exactly once.  Same call on a cluster: MEMORY_AND_DISK cache of
    # (doc_id, 12 longs, shingle array) — tiny next to the corpus.
    sigs = docs.select("doc_id", "sh", *[F.expr(e) for e in _MH_ARR_SPARK]).persist()
    bands = sigs.selectExpr("doc_id", _BAND_STACK_SPARK)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    jac = F.col("n_inter") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        cand.join(sigs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")), "doc_a")
        .join(sigs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sha", "shb")).alias("n_inter"),
            F.size("sha").alias("na"),
            F.size("shb").alias("nb"),
        )
        .filter(jac >= 0.4)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# Recursive-CTE transitive closure of the near-dup pair graph, ending
# in comp(doc_id, keep_id): keep_id is the component's min doc_id.
# Shared by dedup_components and pipeline_dedup_full.
_COMPONENTS_CTES = (
    "WITH RECURSIVE "
    + _SH_INNER_DUCK
    + ", "
    + _NEAR_PAIR_CTES
    + """,
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM near
        UNION ALL
        SELECT doc_b, doc_a FROM near
    ),
    nodes AS (SELECT DISTINCT s AS doc FROM edges),
    walk AS (
        SELECT doc, doc AS lab FROM nodes
        UNION
        SELECT e.d AS doc, w.lab FROM walk w JOIN edges e ON e.s = w.doc
    ),
    comp AS (SELECT doc AS doc_id, min(lab) AS keep_id FROM walk GROUP BY doc)
"""
)


@register("dedup_components", oracle=_COMPONENTS_CTES + "    SELECT doc_id, keep_id FROM comp\n")
def dedup_components(spark, sf_dir):
    """Transitive near-dup clustering: connected components over the
    MinHash-LSH pair graph, survivor = min doc_id per component — the
    stage a real corpus dedup runs AFTER pair generation (pairwise
    similarity is not transitive; without closure, chains A~B~C elect
    two different survivors and drop the wrong docs).

    Distributed iterative min-label propagation: each round joins the
    undirected edge list against current labels, takes the per-node
    min of neighbor labels, and localCheckpoint()s the result — the
    lineage truncation every iterative Spark algorithm needs (without
    it the plan doubles per round and the driver OOMs planning round
    20).  Rounds needed = graph diameter (≤ log n with doubling
    variants; plain propagation is fine for near-dup graphs whose
    components are tiny).  The DuckDB oracle states the same fixpoint
    as a recursive CTE, so the iterative result is hash-checked
    against a declarative ground truth.
    """
    pairs = dedup_near(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs).select(
        F.col("doc").alias("doc_id"), F.col("lab").alias("keep_id")
    )


def connected_components(pairs, max_rounds: int = 30):
    """Min-label propagation WITH pointer jumping over an undirected
    pair list (doc_a, doc_b) → (doc, lab), lab = component's min node
    id.  Each round does (1) one hop of neighbor-min propagation and
    (2) one pointer jump — label(doc) := label(label(doc)) — which
    halves the remaining propagation distance, so convergence is
    O(log diameter) rounds instead of O(diameter): a 1M-node chain
    finishes in ~20 rounds, not 1M (the same trick the MapReduce
    connected-components literature uses to bound round counts).
    localCheckpoint per round truncates lineage — without it the plan
    doubles every round and the driver chokes planning round 20.

    r16 convergence check: the round's result carries the PREVIOUS
    label alongside the new one, so "did anything change" is a
    limit-1 scan of the just-checkpointed blocks — the old
    formulation re-JOINED the old and new label relations (one full
    doc-keyed shuffle of both sides per round) to compare columns the
    round already had in hand (guide §1.2: don't recompute what you
    know; §2.4: remove the exchange outright).  At 100 TB that join
    shuffled 2x the label table per round for a boolean."""
    # cached PRE-PARTITIONED on the per-round join key d (r16, guide
    # §2.4): the union-shaped cache had no usable partitioning, so
    # every propagation round re-exchanged the full edge list; the
    # cached hash(d) layout satisfies the join requirement directly.
    edges = (
        pairs.union(pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
        .withColumnRenamed("doc_a", "s")
        .withColumnRenamed("doc_b", "d")
        .repartition("d")
        .persist()
    )
    labels = edges.select(F.col("s").alias("doc")).distinct().withColumn("lab", F.col("doc"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        nbr = (
            edges.join(labels, edges.d == labels.doc)
            .groupBy("s")
            .agg(F.min("lab").alias("nbr_lab"))
        )
        hopped = labels.join(nbr, labels.doc == nbr.s, "left").select(
            "doc",
            F.col("lab").alias("lab_prev"),
            F.least(F.col("lab"), F.coalesce(F.col("nbr_lab"), F.col("lab"))).alias("lab"),
        )
        # pointer jump: follow the label one more step (labels only
        # ever decrease, so label(label(doc)) <= label(doc))
        jump = hopped.select(F.col("doc").alias("lab"), F.col("lab").alias("lab2"))
        new_labels = (
            hopped.join(jump, "lab", "left")
            .select(
                "doc",
                "lab_prev",
                F.least(F.col("lab"), F.coalesce(F.col("lab2"), F.col("lab"))).alias("lab"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("lab") != F.col("lab_prev")).limit(1).count()
        labels = new_labels.select("doc", "lab")
        if changed == 0:
            break
    # the loop's convergence checks were the cache's last consumers —
    # the returned labels are an eager checkpoint independent of the
    # edge cache, so drop it instead of letting it ride the session
    # (r16 unpersist hygiene; blocking=False keeps this off the
    # query's critical path)
    edges.unpersist(blocking=False)
    return labels


@register("dedup_minhash_ml", check="rows-only")
def dedup_minhash_ml(spark, sf_dir):
    """MLlib MinHashLSH variant (library-surface coverage), seed-pinned.
    rows-only: MLlib's hash family is not SQL-reproducible.  Slower
    than the hand-rolled dedup_near (approxSimilarityJoin explodes all
    hash tables before filtering) — kept out of the bench headline."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = (
        t(spark, sf_dir, "documents")
        .withColumn("toks", F.expr(TOKS_SPARK))
        .select("doc_id", F.expr(_SHINGLES_SPARK).alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True)
    feat = tf.transform(docs)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=3, seed=42)
    model = lsh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, 0.5, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(F.col("jaccard_dist"), 4).alias("jaccard_dist"),
        )
    )


def _simhash_exprs(hash_col: str, shift: str) -> tuple[list[str], str]:
    """Per-bit vote aggregates + final bit-assembly expression.

    ``shift``: "shiftright({h}, {j})" for Spark, "({h} >> {j})" for DuckDB.
    32-bit simhash from the low bits of a 60-bit md5-derived token hash.
    """
    votes = []
    assemble = []
    for j in range(32):
        sh = shift.format(h=hash_col, j=j)
        votes.append(f"sum(CASE WHEN ({sh}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}")
        assemble.append(f"CASE WHEN s{j} > 0 THEN cast({1 << j} AS bigint) ELSE cast(0 AS bigint) END")
    return votes, " + ".join(assemble)


_SH_VOTES_DUCK, _SH_ASSEMBLE_DUCK = _simhash_exprs("h", "({h} >> {j})")

# 60-bit token hash of ``w`` from its md5: Spark parses the hex digits
# with conv, DuckDB with a 0x-prefixed cast — the same value on both.
_TOKEN_HASH_SPARK = "cast(conv(substring(md5(w), 1, 15), 16, 10) AS bigint)"
_TOKEN_HASH_DUCK = "cast(concat('0x', substr(md5(w), 1, 15)) AS bigint)"

# Spark-side per-row votes: fold the per-doc hash ARRAY with
# aggregate() — zero shuffles (the v1 explode+distinct+groupBy shape
# cost two).  The assemble expr is shift-agnostic, reuse DuckDB's twin.
_SH_AGG_ARR_SPARK = [
    f"aggregate(harr, 0, (acc, h) -> acc + "
    f"(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END)) AS s{j}"
    for j in range(32)
]
_SH_ASSEMBLE_SPARK = _SH_ASSEMBLE_DUCK


@register(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest({TOKS_DUCK}) AS w FROM documents
    ),
    hashed AS (
        SELECT doc_id, {_TOKEN_HASH_DUCK} AS h FROM tok
    ),
    votes AS (
        SELECT doc_id, {", ".join(_SH_VOTES_DUCK)} FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, {_SH_ASSEMBLE_DUCK} AS simhash FROM votes
    """,
)
def dedup_simhash(spark, sf_dir):
    """32-bit SimHash fingerprint per doc from md5 token hashes.

    Pure projection pipeline — ZERO shuffles: distinct tokens via
    array_distinct, md5 hashes via transform (materialized once as a
    column, NOT inlined into the vote lambdas), per-bit majority votes
    via 32 aggregate() folds, then bit assembly.  The v1 shape
    (explode → distinct → groupBy) cost two whole shuffles of the
    token stream; this one never leaves the row.
    """
    docs = (
        t_fanout(spark, sf_dir, "documents")
        .select("doc_id", F.array_distinct(F.expr(TOKS_SPARK)).alias("tokd"))
        .filter(F.size("tokd") > 0)
        .withColumn(
            "harr",
            F.expr(f"transform(tokd, w -> {_TOKEN_HASH_SPARK})"),
        )
    )
    votes = docs.select("doc_id", *[F.expr(v) for v in _SH_AGG_ARR_SPARK])
    return votes.select("doc_id", F.expr(_SH_ASSEMBLE_SPARK).alias("simhash"))


# ---------------------------------------------------------------------------
# Similarity search (embeddings are unit-norm [V] so cosine == dot)
# ---------------------------------------------------------------------------

def _dot(a: str, b: str) -> str:
    """Dot product of two array<double> columns, folded in index order."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 AS double), (acc, v) -> acc + v)"


_DOT_SPARK = _dot("pe", "ce")


def _sq_norm(a: str) -> str:
    """Squared L2 norm of an array<double> column, folded in index order."""
    return f"aggregate(transform({a}, x -> x * x), cast(0.0 AS double), (a, z) -> a + z)"


def _sq_norm_duck(a: str) -> str:
    return f"list_sum(list_transform({a}, x -> x * x))"


def _sq_dist(a: str, b: str) -> str:
    """Squared L2 distance of two array<double> columns, folded in index order."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 AS double), (acc, z) -> acc + z)"
    )


def _sq_dist_duck(a: str, b: str) -> str:
    """``_sq_dist`` over two 64-dim lists, folded in the same order."""
    return (
        f"list_sum(list_transform(generate_series(1, 64), "
        f"j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])))"
    )


def _knn_pairs(spark, sf_dir, n_probes=5, k=10, prune_buckets=64, force_prune=None):
    """Two-phase distributed top-k of probe·corpus cosine scores.

    Phase 1 prunes per (probe_id, pmod(vec_id, P)) sub-bucket: every
    window partition holds ~n/P candidate rows, so with P=64 the sort
    work stays spread over n_probes·P tasks instead of funnelling the
    whole corpus into n_probes partitions.  Because the bucket prune
    uses the SAME total order as the final rank (sim DESC, vec_id ASC),
    every global top-k row is by construction within the top-k of its
    own bucket — phase 2 then ranks at most P·k survivors per probe.
    At 100 TB raise P to ~#cores; the survivor set stays O(P·k) rows.

    The prune phase is SIZE-GATED (same 64 MB threshold as t_fanout):
    a toy corpus fits one window partition comfortably, so the extra
    bucket window would only add a pass — the gate keeps toy-scale
    latency flat while the big-corpus plan stays two-phase
    (tests/test_plans.py pins both sides via force_prune).
    """
    if force_prune is None:
        try:
            force_prune = (
                os.path.getsize(os.path.join(sf_dir, "embeddings.parquet")) >= 64 << 20
            )
        except OSError:
            force_prune = True
    emb = t_fanout(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ce"), "label"
    )
    probes = emb.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("probe_id"), F.col("ce").alias("pe")
    )
    pairs = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            "label",
            F.round(F.expr(_DOT_SPARK), 4).alias("sim"),
        )
    )
    from pyspark.sql import Window

    if force_prune:
        wb = Window.partitionBy("probe_id", "bkt").orderBy(
            F.col("sim").desc(), F.col("vec_id")
        )
        pairs = (
            pairs.withColumn("bkt", F.pmod(F.col("vec_id"), F.lit(prune_buckets)))
            .withColumn("prn", F.row_number().over(wb))
            .filter(F.col("prn") <= k)
            .drop("bkt", "prn")
        )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


_EMB_UNNEST_CTE = """
    WITH e AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS pos,
               cast(unnest(embedding) AS double) AS v
        FROM embeddings
    )
"""


_KNN_ORACLE_CTE = (
    _EMB_UNNEST_CTE
    + """,
    p AS (SELECT vec_id AS probe_id, pos, v FROM e WHERE vec_id < 5),
    dots AS (
        SELECT p.probe_id, c.vec_id, any_value(c.label) AS label,
               round(sum(p.v * c.v), 4) AS sim
        FROM p JOIN e c ON p.pos = c.pos AND c.vec_id <> p.probe_id
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT probe_id, vec_id, label, sim,
               row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
        FROM dots
    )
"""
)


@register(
    "sim_knn",
    oracle=_KNN_ORACLE_CTE
    + """
    SELECT probe_id, vec_id, sim, rn FROM ranked WHERE rn <= 10
    """,
)
def sim_knn(spark, sf_dir):
    """Brute-force cosine top-10 for a broadcast probe set.

    Corpus side is one linear scan; dot product runs JVM-side via
    zip_with/aggregate (whole-stage codegen, no Python).  At 100 TB the
    probe set stays broadcast and the scan parallelizes freely.
    """
    return _knn_pairs(spark, sf_dir).select("probe_id", "vec_id", "sim", "rn")


@register(
    "sim_knn_label",
    oracle=_KNN_ORACLE_CTE
    + """
    , votes AS (
        SELECT probe_id, label, count(*) AS votes, round(avg(sim), 4) AS avg_sim
        FROM ranked WHERE rn <= 10 GROUP BY 1, 2
    )
    SELECT probe_id, label AS pred_label, votes, avg_sim
    FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY votes DESC, label) AS rn2
        FROM votes
    ) WHERE rn2 = 1
    """,
)
def sim_knn_label(spark, sf_dir):
    """kNN majority-label classify (k=10, tiebreak = smaller label)."""
    from pyspark.sql import Window

    votes = (
        _knn_pairs(spark, sf_dir)
        .groupBy("probe_id", "label")
        .agg(F.count("*").alias("votes"), F.round(F.avg("sim"), 4).alias("avg_sim"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("votes").desc(), F.col("label"))
    return (
        votes.withColumn("rn2", F.row_number().over(w))
        .filter(F.col("rn2") == 1)
        .select("probe_id", F.col("label").alias("pred_label"), "votes", "avg_sim")
    )


@register("sim_lsh", check="rows-only")
def sim_lsh(spark, sf_dir):
    """Approx ANN via random-hyperplane LSH (MLlib, seed-pinned).

    The scale path for all-pairs similarity: bucket join instead of
    cross join.  rows-only (bucket boundaries are not SQL-reproducible).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5, numHashTables=3, seed=42
    )
    model = lsh.fit(emb)
    pairs = model.approxSimilarityJoin(emb, emb, 1.0, distCol="euclid")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.round(F.col("euclid"), 4).alias("euclid"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_tokens",
    oracle=f"""
    WITH tok AS (SELECT unnest({TOKS_DUCK}) AS word FROM documents),
    counted AS (SELECT word, count(*) AS n FROM tok GROUP BY word)
    SELECT word, n FROM counted ORDER BY n DESC, word LIMIT 50
    """,
)
def text_tokens(spark, sf_dir):
    """Corpus-wide token counts, top-50 (tiebreak: word asc)."""
    return (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.expr(TOKS_SPARK)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(50)
    )


@register(
    "text_stats",
    oracle=f"""
    SELECT lang, source, count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           cast(sum(len({TOKS_DUCK})) AS bigint) AS total_tokens
    FROM documents GROUP BY lang, source
    """,
)
def text_stats(spark, sf_dir):
    """Per-(lang, source) document stats."""
    return (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum(F.size(F.expr(TOKS_SPARK))).alias("total_tokens"),
        )
    )


_STOPWORDS = "'the','a','and','of','to','in','is'"


@register(
    "text_quality",
    oracle=f"""
    WITH base AS (SELECT doc_id, text, {TOKS_DUCK} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           round(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS ttr,
           round(list_aggregate(list_transform(toks, x -> len(x)), 'sum') * 1.0 / len(toks), 4)
               AS avg_token_len,
           round(len(list_filter(toks, x -> list_contains([{_STOPWORDS}], x))) * 1.0
                 / len(toks), 4) AS stopword_ratio,
           len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
    FROM base WHERE len(toks) > 0
    """,
)
def text_quality(spark, sf_dir):
    """Per-doc quality features: token counts, type-token ratio,
    avg token length, stopword ratio, punctuation count — all built-in
    expressions (whole-stage codegen; no UDF)."""
    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(TOKS_SPARK))
    n_tok = F.size("toks")
    return docs.filter(n_tok > 0).select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.round(F.size(F.array_distinct("toks")) * F.lit(1.0) / n_tok, 4).alias("ttr"),
        F.round(
            F.expr("aggregate(transform(toks, x -> length(x)), 0, (acc, v) -> acc + v)")
            * F.lit(1.0)
            / n_tok,
            4,
        ).alias("avg_token_len"),
        F.round(
            F.size(F.expr(f"filter(toks, x -> array_contains(array({_STOPWORDS}), x))"))
            * F.lit(1.0)
            / n_tok,
            4,
        ).alias("stopword_ratio"),
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).alias("n_punct"),
    )


_LANGID_CASE_SQL = r"""
    CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
         WHEN regexp_matches(text, '[äöüß]') THEN 'de'
         WHEN regexp_matches(text, '[ñ¿¡]') THEN 'es'
         WHEN regexp_matches(text, '[éèêàçùâîô]') THEN 'fr'
         ELSE 'en' END
"""


@register(
    "text_langid",
    oracle=f"""
    SELECT lang, {_LANGID_CASE_SQL} AS pred_lang, count(*) AS n
    FROM documents GROUP BY 1, 2
    """,
)
def text_langid(spark, sf_dir):
    """Heuristic char-class language ID + confusion matrix vs the
    labeled lang column.  Pure regex CASE — codegen'd, no UDF."""
    pred = (
        F.when(F.col("text").rlike(r"[\x{4e00}-\x{9fff}]"), "zh")
        .when(F.col("text").rlike("[äöüß]"), "de")
        .when(F.col("text").rlike("[ñ¿¡]"), "es")
        .when(F.col("text").rlike("[éèêàçùâîô]"), "fr")
        .otherwise("en")
    )
    return (
        t(spark, sf_dir, "documents")
        .select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({TOKS_DUCK})), ' ')) AS bag_fp,
           md5(lower(text)) AS raw_fp
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprints: md5 of the sorted distinct token bag
    (order-insensitive near-identity) + md5 of normalized raw text."""
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.sort_array(F.array_distinct(F.expr(TOKS_SPARK))))).alias(
            "bag_fp"
        ),
        F.md5(F.lower("text")).alias("raw_fp"),
    )


@register(
    "text_tfidf",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({TOKS_DUCK}) AS word FROM documents),
    tf AS (SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY 1, 2),
    dlen AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
    df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    nd AS (SELECT count(*) AS nd FROM documents),
    weighted AS (
        SELECT tf.doc_id, tf.word,
               round((tf.cnt * 1.0 / dlen.n) * ln(nd.nd * 1.0 / df.df), 4) AS tfidf
        FROM tf
        JOIN dlen ON dlen.doc_id = tf.doc_id
        JOIN df ON df.word = tf.word
        CROSS JOIN nd
    )
    SELECT doc_id, word, tfidf, rn FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
        FROM weighted
    ) WHERE rn <= 3
    """,
)
def text_tfidf(spark, sf_dir):
    """Top-3 tf-idf terms per doc (tiebreak word asc).

    Shuffle-minimal shape: per-doc term counts are computed IN-ROW by
    folding the row's own token array (distinct token w → count of w
    in toks) and exploded once already counted — the (doc_id, word)
    groupBy shuffle and the dlen groupBy+join are gone (doc length
    rides along as size(toks)).  Remaining shuffles: the df aggregate
    (one row per distinct word, broadcast back) and the per-doc
    ranking window.  The count lambdas only touch materialized columns
    of the persisted input, so project-collapse can't trigger the
    per-element re-eval trap.

    The vocabulary (df) join is deliberately UNHINTED: at 100 TB the
    term→document-frequency table is far beyond broadcast size, so the
    plan must stay a shuffle join on ``word``; AQE converts it to a
    broadcast join at small scale on its own.  (r1 hard-coded
    F.broadcast(df) — flagged as the scale-killer here.)  The one-row
    corpus count stays an explicit broadcast: its size is 1 at any
    scale.
    """
    from pyspark.sql import Window

    docs = (
        t_fanout(spark, sf_dir, "documents")
        .select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .select("doc_id", "toks", F.size("toks").alias("n"), F.array_distinct("toks").alias("tokd"))
        .persist()
    )
    tf = docs.select(
        "doc_id",
        "n",
        F.explode(
            F.expr("transform(tokd, w -> struct(w AS word, size(filter(toks, x -> x = w)) AS cnt))")
        ).alias("wc"),
    ).select("doc_id", "n", F.col("wc.word").alias("word"), F.col("wc.cnt").alias("cnt"))
    df = docs.select(F.explode("tokd").alias("word")).groupBy("word").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count("*").alias("nd"))
    weighted = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "word",
            F.round(
                (F.col("cnt") * F.lit(1.0) / F.col("n"))
                * F.log(F.col("nd") * F.lit(1.0) / F.col("df")),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word"))
    return weighted.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@register(
    "mm_struct",
    oracle="""
    SELECT d.doc_id, e.label, len(e.embedding) AS emb_dim, len(d.text) AS text_len
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    """,
)
def mm_struct(spark, sf_dir):
    """Multimodal record assembly: documents ⋈ embeddings into a typed
    struct, then scalar field projection (the hash-checkable part)."""
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    rec = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            docs.doc_id,
            F.struct(docs.text, emb.embedding, emb.label).alias("rec"),
        )
    )
    return rec.select(
        "doc_id",
        F.col("rec.label").alias("label"),
        F.size("rec.embedding").alias("emb_dim"),
        F.length("rec.text").alias("text_len"),
    )


@register(
    "mm_decode",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5,
           lower(substr(hex(encode(text)), 1, 16)) AS head_hex
    FROM documents
    """,
)
def mm_decode(spark, sf_dir):
    """Opaque-binary column plumbing: text→binary payload, byte length,
    checksum, head-of-payload sample — all JVM-side.  Stands in for
    image/audio blob handling (schema + codegen path is the real part;
    actual media decode is the mm_features stub)."""
    docs = t(spark, sf_dir, "documents").withColumn("payload", F.col("text").cast("binary"))
    return docs.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.lower(F.substring(F.hex("payload"), 1, 16)).alias("head_hex"),
    )


@register("mm_features", check="rows-only")
def mm_features(spark, sf_dir):
    """Multimodal feature extraction over binary payloads via
    mapInPandas (Arrow-batched): per-payload numpy byte statistics —
    mean byte value, distinct-byte count, Shannon entropy (bits/byte)
    — plus the deterministic fake "image" dims shared with mm_resize.

    The byte-level features are REAL content-based computation (numpy
    frombuffer + bincount over every payload byte); what stays stubbed
    is only the image/audio DECODE step (JPEG→pixels, wav→samples)
    that would precede them — those libs are absent in this container.
    A torchvision/librosa kernel slots in front of the histogram
    unchanged.  rows-only: byte-level entropy over UTF-8 blobs has no
    reasonable SQL twin.
    """
    import numpy as np
    import pandas as pd

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def byte_features(batches):
        for pdf in batches:
            rows = {
                "doc_id": pdf["doc_id"],
                "width": [],
                "height": [],
                "n_bytes": [],
                "mean_byte": [],
                "n_distinct_bytes": [],
                "entropy_bits": [],
            }
            for payload in pdf["payload"]:
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = b.size
                hist = np.bincount(b, minlength=256).astype(np.float64)
                p = hist[hist > 0] / max(n, 1)
                rows["width"].append(64 + n % 64)  # fake dims, matches mm_resize
                rows["height"].append(64 + (n * 7) % 64)
                rows["n_bytes"].append(n)
                rows["mean_byte"].append(round(float(b.mean()) if n else 0.0, 4))
                rows["n_distinct_bytes"].append(int((hist > 0).sum()))
                rows["entropy_bits"].append(
                    round(float(-(p * np.log2(p)).sum()) if n else 0.0, 4)
                )
            yield pd.DataFrame(rows)

    out = docs.mapInPandas(
        byte_features,
        schema=(
            "doc_id long, width long, height long, n_bytes long, "
            "mean_byte double, n_distinct_bytes long, entropy_bits double"
        ),
    )
    return out


@register(
    "mm_resize",
    oracle="""
    WITH p AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    dims AS (
        SELECT doc_id, 64 + n % 64 AS in_w, 64 + (n * 7) % 64 AS in_h FROM p
    )
    SELECT doc_id, in_w, in_h,
           in_w * 32 // greatest(in_w, in_h) AS out_w,
           in_h * 32 // greatest(in_w, in_h) AS out_h
    FROM dims
    """,
)
def mm_resize(spark, sf_dir):
    """Multimodal resize stage: mapInPandas kernel computes aspect-
    preserving target dims (max side 32, integer math) for each
    payload.  The "decode" is the same deterministic byte-stat fake as
    mm_features (real image libs absent), but UNLIKE mm_features this
    key is fully ORACLE-CHECKED: the Python/Arrow path must reproduce
    the SQL twin's values bit-for-bit — the strongest possible test of
    the Py<->JVM plumbing (dtype mapping, batch boundaries, row order
    independence).  A torchvision resize slots into `kernel` unchanged.
    """
    import pandas as pd

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def kernel(batches):
        for pdf in batches:
            n = pdf["payload"].map(len)
            in_w = 64 + (n % 64)
            in_h = 64 + ((n * 7) % 64)
            m = pd.concat([in_w, in_h], axis=1).max(axis=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "in_w": in_w,
                    "in_h": in_h,
                    "out_w": in_w * 32 // m,
                    "out_h": in_h * 32 // m,
                }
            )

    return docs.mapInPandas(
        kernel, schema="doc_id long, in_w long, in_h long, out_w long, out_h long"
    )


_FRAME_HEX_CHARS, _FRAME_STRIDE = 32, 4  # 16-byte frames, keep every 4th


@register(
    "mm_frame_sample",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, lower(hex(encode(text))) AS hx,
               octet_length(encode(text)) * 2 // {_FRAME_HEX_CHARS} AS n_frames
        FROM documents
    ),
    f AS (
        SELECT doc_id, hx,
               unnest(range(0, n_frames, {_FRAME_STRIDE})) AS fi
        FROM p
    )
    SELECT doc_id, cast(fi AS bigint) AS frame_idx,
           substr(hx, cast(fi * {_FRAME_HEX_CHARS} + 1 AS bigint), {_FRAME_HEX_CHARS})
               AS frame_hex
    FROM f
    """,
)
def mm_frame_sample(spark, sf_dir):
    """Multimodal frame sampling: treat each payload as a sequence of
    16-byte "frames" and keep every 4th (the video keyframe-sampling
    shape).  mapInPandas fans each doc out to its sampled frames —
    demonstrating a ROW-EXPANDING Arrow kernel — and the output is
    ORACLE-CHECKED against a pure-SQL twin (hex slicing), so the
    Python path's bytes→utf8→frame arithmetic is verified exactly.
    An ffmpeg/pyav frame extractor slots into `sample` unchanged.
    """
    import pandas as pd

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def sample(batches):
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_hex": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                hx = bytes(payload).hex()
                for fi in range(0, len(hx) // _FRAME_HEX_CHARS, _FRAME_STRIDE):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(fi)
                    out["frame_hex"].append(
                        hx[fi * _FRAME_HEX_CHARS : (fi + 1) * _FRAME_HEX_CHARS]
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int64"),
                    "frame_hex": pd.Series(out["frame_hex"], dtype="object"),
                }
            )

    return docs.mapInPandas(sample, schema="doc_id long, frame_idx long, frame_hex string")


# ---------------------------------------------------------------------------
# Embedding-space dedup + IVF similarity (scale-path variants)
# ---------------------------------------------------------------------------

# Sign-random-projection LSH for dedup_embed: md5-seeded integer
# hyperplanes over the 64-dim embedding, arranged as an OR-construction
# of _SRP_BANDS independent bands of 8 bits each at shipped sizes (the same
# banding trick as dedup_near's 4×3 MinHash bands).  A pair is a
# candidate iff it collides on ANY band's full bucket, so expected
# bucket size is n/2^band_bits (2^8 = 256 buckets per band — quadratic
# blow-up per bucket is n²/256, vs n²/16 for the old single 4-bit
# band) while multi-band OR keeps recall: for a true near-dup at
# cos≈0.9 the per-bit collision prob is ~0.857, so one 8-bit band
# catches ~29% and three bands 1-(1-0.29)³ ≈ 64% — better than the old
# single 4-bit band's 54%, with 16× smaller buckets.  At 100 TB the
# band WIDTH must grow with n — with FIXED bits the per-band pair
# space n²/2^bits is quadratic in disguise — so dedup_embed derives
# nbits = 8 + ⌈log2(n/2000)⌉ declaratively from a broadcast 1-row
# count and folds only the first nbits of _SRP_MAX_BITS materialized
# sign bits into the bucket id: 2^nbits ∝ n keeps expected bucket
# size (and so per-band candidate pairs per vector) CONSTANT as the
# corpus grows.  Every shipped corpus (n ≤ 2000 ⇒ nbits = 8) buckets
# bit-identically to the historical fixed-8-bit scheme.  The usual
# LSH trade remains: each extra bit lowers per-band recall ~0.857×
# at cos≈0.9, so a production 100 TB run adds bands to compensate.
#
# Weights derive from md5("band:bit#dim") at query-BUILD time (band 0
# keeps the legacy "bit#dim" seed so single-band containment is
# property-testable), components are quantized to integer milli-units,
# and projection signs use exact bigint arithmetic — bucket ids are
# bit-identical across engines with no float-sum-order risk.
_SRP_BANDS, _SRP_DIM = 3, 64
_SRP_MAX_BITS = 16  # sign bits materialized per band (dynamic fold cap)


def _srp_weights() -> list[list[list[int]]]:
    import hashlib

    def seed(band: int, k: int, j: int) -> str:
        return f"{k}#{j}" if band == 0 else f"{band}:{k}#{j}"

    return [
        [
            [
                int(hashlib.md5(seed(band, k, j).encode()).hexdigest()[:15], 16) % 2001
                - 1000
                for j in range(_SRP_DIM)
            ]
            for k in range(_SRP_MAX_BITS)
        ]
        for band in range(_SRP_BANDS)
    ]


def _srp_sign_exprs_spark() -> list[str]:
    """Per-band array of ``_SRP_MAX_BITS`` sign bits (bigint 0/1) over
    ``ei`` — the dynamic-width raw material: the bucket id folds only
    the first ``nbits`` of them (see the block comment above)."""
    out = []
    for rows in _srp_weights():
        bits = []
        for row in rows:
            arr = "array(" + ", ".join(f"{w}L" for w in row) + ")"
            s = f"aggregate(zip_with(ei, {arr}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
            bits.append(f"CASE WHEN {s} >= 0 THEN 1L ELSE 0L END")
        out.append("array(" + ", ".join(bits) + ")")
    return out


def _srp_dyn_bucket_exprs_spark(nbits_col: str = "nbits") -> list[str]:
    """Per-band dynamic-width bucket ids: binary fold of the first
    ``nbits`` sign bits, band-offset by 2^21 so bands never collide
    (nbits is capped at _SRP_MAX_BITS = 16 < 21).  At nbits = 8 the
    fold reproduces the historical fixed-width bucket partition
    exactly (values differ only by the band offset, which never mixes
    bands in either scheme)."""
    return [
        f"cast({band * (1 << 21)} + aggregate(slice(sb{band}, 1, {nbits_col}), "
        f"0L, (acc, v) -> acc * 2 + v) AS bigint)"
        for band in range(_SRP_BANDS)
    ]


def _srp_sign_exprs_duck() -> list[str]:
    out = []
    for rows in _srp_weights():
        bits = []
        for row in rows:
            arr = "[" + ", ".join(str(w) for w in row) + "]"
            s = (
                f"list_aggregate(list_transform(generate_series(1, {_SRP_DIM}), "
                f"i -> ({arr})[i] * ei[i]), 'sum')"
            )
            bits.append(f"CASE WHEN {s} >= 0 THEN 1 ELSE 0 END")
        out.append("[" + ", ".join(bits) + "]")
    return out


@register(
    "dedup_embed",
    oracle=f"""
    WITH kk AS (
        SELECT cast(least(16, 8 + ceil(log2(greatest(count(*) / 2000.0, 1.0)))) AS int) AS nbits
        FROM embeddings
    ),
    q AS (
        SELECT vec_id,
               list_transform(embedding, x -> cast(round(cast(x AS double) * 1000) AS bigint)) AS ei,
               list_transform(embedding, x -> cast(x AS double)) AS e
        FROM embeddings
    ),
    signs AS (
        SELECT vec_id, e,
               {", ".join(f"{s} AS sb{i}" for i, s in enumerate(_srp_sign_exprs_duck()))}
        FROM q
    ),
    bkt AS (
        SELECT vec_id, e, unnest([{", ".join(
            f"{band * (1 << 21)} + list_reduce(list_slice(sb{band}, 1, kk.nbits), (acc, x) -> acc * 2 + x)"
            for band in range(_SRP_BANDS)
        )}]) AS bucket
        FROM signs CROSS JOIN kk
    ),
    pairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_aggregate(list_transform(generate_series(1, {_SRP_DIM}),
                     i -> a.e[i] * b.e[i]), 'sum'), 4) AS cos_sim
        FROM bkt a JOIN bkt b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.3
    """,
)
def dedup_embed(spark, sf_dir):
    """Embedding-cosine near-dup pairs, multi-band SRP-LSH-blocked.

    Block keys are _SRP_BANDS independent sign-random-projection bands
    of DYNAMIC width (OR-construction — same banding trick as
    dedup_near): each vector lands in exactly B buckets, a pair is a
    candidate iff it collides in ANY band, and the within-bucket pair
    space is O(n²/2^nbits) per band.  nbits = least(16,
    8 + ⌈log2(n/2000)⌉) is derived declaratively from a broadcast
    1-row count, so 2^nbits ∝ n and the expected bucket size — hence
    candidate pairs PER VECTOR — stays constant as the corpus grows
    until the explicit _SRP_MAX_BITS=16 plateau (n ≈ 512k; both
    engines cap at the formula site, not implicitly via slice); a
    fixed width would be quadratic in disguise (see _srp_weights
    block comment).
    Every shipped corpus (n ≤ 2000 ⇒ nbits = 8) buckets bit-
    identically to the historical fixed-8-bit scheme.  Candidate dot
    products run JVM-side via zip_with/aggregate after one shuffle on
    the bucket key; distinct() collapses pairs that collide in
    multiple bands (cos_sim is a deterministic sequential fold, so
    duplicate rows are bit-identical).
    """
    emb = t_fanout(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        # materialized (NOT inlined into the 48 sign folds — the
        # project-collapse re-eval trap) integer milli-unit components
        F.expr("transform(embedding, x -> cast(round(cast(x AS double) * 1000) AS bigint))").alias(
            "ei"
        ),
    )
    kdf = emb.agg(
        F.least(
            F.lit(16),
            F.lit(8)
            + F.ceil(F.log2(F.greatest(F.count(F.lit(1)) / 2000.0, F.lit(1.0)))),
        )
        .cast("int")
        .alias("nbits")
    )
    # NOT persisted: both self-join sides shuffle on the same bucket
    # key, so AQE reuses one exchange and the 48 sign folds already
    # run once (measured: adding a persist here made the 100x probe
    # 4x SLOWER — the cache materializes 3 wide rows per vector that
    # the pipelined exchange never stores).
    bands = "array(" + ", ".join(_srp_dyn_bucket_exprs_spark()) + ")"
    bkt = (
        emb.select(
            "vec_id",
            "e",
            *[
                F.expr(s).alias(f"sb{i}")
                for i, s in enumerate(_srp_sign_exprs_spark())
            ],
        )
        .crossJoin(F.broadcast(kdf))
        .select("vec_id", "e", F.explode(F.expr(bands)).alias("bucket"))
    )
    a = bkt.alias("a")
    b = bkt.alias("b")
    dot = F.expr(_dot("a.e", "b.e"))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(dot, 4).alias("cos_sim"),
        )
        .distinct()
        .filter(F.col("cos_sim") >= 0.3)
    )


# Lloyd codebook refinement (VERDICT r10 #4): 2 rounds, max-dot
# assignment + mean update, trained on a deterministic ~8k-vector
# stride sample (the faiss convention: codebooks train on a sample,
# not the corpus).  Unrolled per round in the oracle so both engines
# state the same fixpoint prefix (the ml_kmeans_lloyd trick).
_IVF_LLOYD_ROUNDS = 2


def _ivf_train_ctes() -> str:
    ctes = """
    , ks AS (
        SELECT n, k, cast(ceil(k / ceil(sqrt(k))) AS bigint) AS stride,
               greatest(1, cast(ceil(n / (8.0 * k)) AS bigint)) AS sstride
        FROM (SELECT count(*) AS n,
                     greatest(8, cast(ceil(sqrt(count(*))) AS bigint)) AS k
              FROM embeddings)
    ),
    samp AS (
        SELECT e.vec_id, e.pos, e.v FROM e CROSS JOIN ks
        WHERE e.vec_id % ks.sstride = 0
    ),
    tc0 AS (
        SELECT vec_id AS cid, pos, v FROM e CROSS JOIN ks WHERE vec_id < ks.k
    )"""
    for i in range(_IVF_LLOYD_ROUNDS):
        ctes += f""",
    td{i} AS (
        SELECT s.vec_id, c.cid, round(sum(s.v * c.v), 4) AS d
        FROM samp s JOIN tc{i} c ON c.pos = s.pos
        GROUP BY 1, 2
    ),
    ta{i} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
            FROM td{i}
        ) WHERE rn = 1
    ),
    tm{i} AS (
        SELECT a.cid, s.pos, avg(s.v) AS mv
        FROM ta{i} a JOIN samp s USING (vec_id)
        GROUP BY 1, 2
    ),
    tn{i} AS (SELECT cid, sqrt(sum(mv * mv)) AS nrm FROM tm{i} GROUP BY 1),
    tc{i + 1} AS (
        SELECT c.cid, c.pos, coalesce(m.mv / n.nrm, c.v) AS v
        FROM tc{i} c
        LEFT JOIN tm{i} m ON m.cid = c.cid AND m.pos = c.pos
        LEFT JOIN tn{i} n ON n.cid = c.cid
    )"""
    return ctes


# IVF assignment shared by sim_ivf and dedup_semantic_cluster: every
# vector picks the nearest of the codebook's slot-0 representatives
# (one per id-stride group g), then the nearest centroid WITHIN that
# group — n·2√k dots instead of a flat n·k scan.  Both argmaxes are
# max_by HASH AGGREGATES (map-side partial combine), never row_number
# windows, and the candidate relations carry only (vec_id, group or
# centroid id, d): the 64-dim arrays are projected away BEFORE the
# argmax shuffle.  _argkey packs the (d DESC, id ASC) order into ONE
# exact bigint (d is 4-dp-rounded, so round(d·10⁴) is integral; ids <
# 2^40; a struct max_by key forces SortAggregate, a bigint key
# hash-aggregates) — the oracle's row_number ORDER BY d DESC, id
# semantics, exactly.
def _argkey(idcol: str) -> str:
    return f"cast(round(d * 10000) AS bigint) * 1099511627776L - {idcol}"


def _ivf_coarse(emb, cent):
    """(vec_id, g): each vector's nearest representative group.  ``emb``
    is (vec_id, e) and ``cent`` (cid, g, slot, ce); the ⌈√k⌉
    representatives are broadcast — small even at 100 TB-scale k."""
    reps = cent.filter(F.col("slot") == 0).select("g", "ce")
    return (
        emb.crossJoin(F.broadcast(reps))
        .select("vec_id", F.round(F.expr(_dot("e", "ce")), 4).alias("d"), "g")
        .groupBy("vec_id")
        .agg(F.expr(f"max_by(g, {_argkey('g')})").alias("g"))
    )


def _ivf_fine_dots(emb, coarse, group_cents):
    """(vec_id, d, cid): each vector's 4-dp dots with the centroids of
    its coarse group — an equi-join on the group id, ≤ stride
    candidates per vector.  ``group_cents`` is (g, cid, ce)."""
    return (
        coarse.join(emb, "vec_id")
        .join(group_cents, "g")
        .select("vec_id", F.round(F.expr(_dot("e", "ce")), 4).alias("d"), "cid")
    )


def _ivf_assign_ctes(codebook: str) -> str:
    """DuckDB twin of _ivf_coarse + _ivf_fine_dots: cent → reps → cdots
    → coarse → fdots(vec_id, cid, d) over ``e`` (_EMB_UNNEST_CTE),
    ``ks.stride`` and the ``codebook`` CTE (cid, pos, v)."""
    return f"""
    cent AS (
        SELECT cid, cid // ks.stride AS g, pos, v
        FROM {codebook} CROSS JOIN ks
    ),
    reps AS (
        SELECT g, pos, v FROM cent CROSS JOIN ks WHERE cid % ks.stride = 0
    ),
    cdots AS (
        SELECT e.vec_id, r.g, round(sum(e.v * r.v), 4) AS d
        FROM e JOIN reps r ON r.pos = e.pos
        GROUP BY 1, 2
    ),
    coarse AS (
        SELECT vec_id, g FROM (
            SELECT vec_id, g,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, g) AS rn
            FROM cdots
        ) WHERE rn = 1
    ),
    fdots AS (
        SELECT e.vec_id, c.cid, round(sum(e.v * c.v), 4) AS d
        FROM e
        JOIN coarse co ON co.vec_id = e.vec_id
        JOIN cent c ON c.g = co.g AND c.pos = e.pos
        GROUP BY 1, 2
    )"""


_IVF_ORACLE = (
    _EMB_UNNEST_CTE
    + _ivf_train_ctes()
    + ",\n"
    + _ivf_assign_ctes(f"tc{_IVF_LLOYD_ROUNDS}")
    + """,
    franked AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS frn
        FROM fdots
    ),
    assign AS (SELECT vec_id, cid FROM franked WHERE frn = 1),
    probes AS (
        SELECT e.vec_id AS probe_id, f.cid, e.pos, e.v
        FROM e JOIN franked f ON f.vec_id = e.vec_id AND f.frn <= 2
        WHERE e.vec_id < 5
    ),
    cands AS (
        SELECT e.vec_id, a.cid, e.pos, e.v
        FROM e JOIN assign a ON a.vec_id = e.vec_id
    ),
    pairdots AS (
        SELECT p.probe_id, c.vec_id, round(sum(p.v * c.v), 4) AS sim
        FROM probes p
        JOIN cands c ON c.pos = p.pos AND c.cid = p.cid AND c.vec_id <> p.probe_id
        GROUP BY 1, 2
    )
    SELECT probe_id, vec_id, sim, rn FROM (
        SELECT probe_id, vec_id, sim,
               row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
        FROM pairdots
    ) WHERE rn <= 5
    """
)


@register("sim_ivf", oracle=_IVF_ORACLE)
def sim_ivf(spark, sf_dir):
    """IVF-style ANN: assign every vector to its nearest centroid from
    a k = max(8, ⌈√n⌉)-entry codebook TRAINED with 2 Lloyd rounds
    (init = first k corpus vectors, max-dot assignment + mean update —
    VERDICT r10 #4: first-k centroids track corpus order, not density;
    trained centroids hold recall on clustered real embeddings), then
    search each probe only within its nprobe = 2 best clusters (top-5).

    Training runs on a deterministic ~8k-vector stride sample, the
    faiss convention — codebooks train on a sample, never the corpus,
    so the training cost is O(8k·k·rounds) dots independent of n.
    Because the sample is bounded by construction, the Lloyd rounds
    run in ONE executor task (mapInPandas over the repartition(1)'d
    sample — the faiss single-worker training discipline) instead of
    as per-round distributed stages whose data is metadata-sized:
    blocked numpy matmuls keep task memory bounded, and empty
    clusters keep their previous centroid, matching the oracle's
    unrolled LEFT JOIN per round.

    The scale story is the textbook IVF shape with the parameters
    actually scaling: k ∝ √n balances per-probe search cost (n/k
    candidates) against codebook scan cost (k) — a FIXED k makes
    every query scan n/8 of the corpus, i.e. a 12.5 TB lookup at
    100 TB.  Index build avoids the flat n·k scan the same way
    dedup_semantic_cluster does: nearest of ⌈√k⌉ coarse
    representatives first, then the fine argmax within that id-stride
    group (n·2√k dots; packed-bigint max_by hash aggregates, arrays
    projected away before every argmax shuffle).  nprobe = 2 — the
    probe searches its two best fine clusters — buys back the recall
    the smaller √n-sized clusters cost, the standard IVF knob.
    Recall loss vs sim_knn stays the usual IVF trade; both are
    oracle-checked so the difference is inspectable
    (tests/test_llm.py pins a recall floor).
    """
    from pyspark.sql import Window

    import math as _math

    emb = t_fanout(spark, sf_dir, "embeddings", heavy=False).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # one metadata-sized count sizes the codebook (the BPE-trainer
    # collect discipline: scalars to the driver, never rows) — the
    # derived k/stride literals then prune every downstream plan
    # instead of re-counting the corpus per use
    n = emb.count()
    kk = max(8, _math.ceil(_math.sqrt(n)))
    stride = _math.ceil(kk / _math.ceil(_math.sqrt(kk)))
    sstride = max(1, _math.ceil(n / (8.0 * kk)))
    # --- codebook training: 2 Lloyd rounds in ONE executor task ---
    # The sample is 8·k = 8·√n vectors BY CONSTRUCTION — training is a
    # single-node problem (the faiss discipline: codebooks train on a
    # bounded sample on one worker, never as corpus-wide stages), so
    # running the rounds as distributed shuffles only buys stage/
    # broadcast overhead.  mapInPandas over the repartition(1)'d
    # sample∪init runs the whole loop in one task: numpy max-dot
    # assignment in ~200 MB blocked matmuls (task memory stays bounded
    # at k=√1e9), mean update, spherical renormalize, empty cluster
    # keeps its previous centroid — value-for-value the oracle's
    # unrolled per-round CTEs (assignment dots rounded 4dp, ties to
    # the smallest cid = numpy argmax first-hit over cid-ordered rows;
    # rows sorted by vec_id inside the task, so the result is
    # partitioning-independent).  The corpus-side plan has ZERO
    # training stages.

    def _ivf_train(batches):
        import numpy as _np
        import pandas as _pd

        parts = [b for b in batches]
        if not parts:  # empty embeddings table → empty codebook
            yield _pd.DataFrame(
                {"cid": _pd.Series([], dtype="int64"), "ce": _pd.Series([], dtype="object")}
            )
            return
        pdf = _pd.concat(parts, ignore_index=True) if len(parts) != 1 else parts[0]
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        ids = pdf["vec_id"].to_numpy()
        V = _np.array([_np.asarray(x, dtype=_np.float64) for x in pdf["e"]])
        cids = ids[ids < kk]
        C = V[ids < kk].copy()  # init: first-k corpus vectors
        S = V[ids % sstride == 0]
        for _ in range(_IVF_LLOYD_ROUNDS):
            assign = _np.empty(len(S), dtype=_np.int64)
            blk = max(1, int(2e8) // max(1, C.shape[0] * 8))
            for s0 in range(0, len(S), blk):
                # half-AWAY-from-zero at 4dp to match DuckDB round()
                # and Spark F.round (np.round is banker's half-to-even
                # and could flip an argmax on an exact midpoint)
                raw = S[s0 : s0 + blk] @ C.T
                d = _np.copysign(_np.floor(_np.abs(raw) * 1e4 + 0.5), raw) / 1e4
                assign[s0 : s0 + blk] = d.argmax(axis=1)
            for j in range(len(C)):
                m = S[assign == j]
                if len(m):
                    mv = m.mean(axis=0)
                    C[j] = mv / _np.sqrt((mv * mv).sum())
        yield _pd.DataFrame({"cid": cids, "ce": [list(r) for r in C]})

    cent_t = (
        emb.filter((F.col("vec_id") % sstride == 0) | (F.col("vec_id") < kk))
        .repartition(1)
        .mapInPandas(_ivf_train, schema="cid long, ce array<double>")
        # two consumers broadcast the codebook (reps + fine join) —
        # persist so the training task runs once
        .persist()
    )

    cent = cent_t.select(
        "cid",
        F.expr(f"cid div {stride}").alias("g"),
        (F.col("cid") % stride).alias("slot"),
        "ce",
    )
    coarse = _ivf_coarse(emb, cent)
    # fine dots for the chosen group: feeds BOTH the rn=1 assignment
    # (the IVF index) and the probes' rn<=2 cluster choice
    w_fine = Window.partitionBy("vec_id").orderBy(F.col("d").desc(), F.col("cid"))
    franked = (
        # cent descends from the checkpointed trained codebook (no
        # stats) — hint the k-row broadcast Catalyst can no longer infer
        _ivf_fine_dots(emb, coarse, F.broadcast(cent.select("g", "cid", "ce")))
        .withColumn("frn", F.row_number().over(w_fine))
        # index rows (frn=1 for every vector) + the probes' second
        # cluster; at scale the frn=2 tail exists only for the probe set
        .filter((F.col("frn") == 1) | ((F.col("frn") <= 2) & (F.col("vec_id") < 5)))
        .persist()
    )
    # persist: the assignment (vector → nearest centroid) feeds both
    # the probe set and the candidate side of the cluster-pruned
    # search; one codebook scan instead of two.  On a cluster this is
    # the materialized IVF index — the thing a vector store would
    # build once and reuse across queries.
    assign = (
        franked.filter(F.col("frn") == 1)
        .select("vec_id", "cid")
        .join(emb, "vec_id")
        .select("vec_id", "e", "cid")
        .persist()
    )
    probes = (
        franked.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("probe_id"), "cid")
        .join(emb.select(F.col("vec_id").alias("probe_id"), F.col("e").alias("pe")), "probe_id")
    )
    pdot = F.expr(_dot("pe", "e"))
    w_rank = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        assign.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", F.round(pdot, 4).alias("sim"))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "vec_id", "sim", "rn")
    )


@register(
    "text_bpe_tokens",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe,
           len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')))
               AS n_bpe_distinct
    FROM documents
    """,
)
def text_bpe_tokens(spark, sf_dir):
    """BPE-ish regex token counting: runs of letters, runs of digits,
    and single non-alnum symbols each count as one token (the
    pre-tokenization split most BPE vocabularies assume).  Pure
    regexp_extract_all — codegen'd, no UDF."""
    # NB: not F.expr — SQL string literals consume the \s escape.
    toks = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_bpe"),
        F.size(F.array_distinct(toks)).alias("n_bpe_distinct"),
    )


# ---------------------------------------------------------------------------
# Rolling-hash fingerprint + n-gram language ID
# ---------------------------------------------------------------------------

# token hash twins (same md5→bigint parity trick as minhash/simhash);
# fold keeps the accumulator < 2^35 via mod-at-every-step (ANSI-safe).
_TH_SPARK = f"{_TOKEN_HASH_SPARK} % 1000000007"
_TH_DUCK = f"{_TOKEN_HASH_DUCK} % 1000000007"


@register(
    "text_rolling_hash",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               list_transform({TOKS_DUCK}, w -> {_TH_DUCK}) AS harr
        FROM documents
    )
    SELECT doc_id,
           list_reduce(list_prepend(cast(0 AS bigint), harr),
                       (acc, x) -> (acc * 31 + x) % 1000000007) AS roll_hash,
           len(harr) AS n_tokens
    FROM h WHERE len(harr) > 0
    """,
)
def text_rolling_hash(spark, sf_dir):
    """Order-sensitive document fingerprint: polynomial rolling hash
    (Rabin-Karp family) folded over the token stream, mod 1e9+7 at
    every step so the accumulator never exceeds 2^35 (ANSI-safe).

    Pure projection — zero shuffles; the fold lambda touches only its
    own accumulator/argument.  Unlike text_fingerprint's sorted-bag
    md5 this preserves token ORDER: reordered near-dups hash apart.
    """
    docs = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(f"transform({TOKS_SPARK}, w -> {_TH_SPARK})").alias("harr"),
        )
        .filter(F.size("harr") > 0)
    )
    return docs.select(
        "doc_id",
        F.expr(
            "aggregate(harr, cast(0 AS bigint), (acc, x) -> (acc * 31 + x) % 1000000007)"
        ).alias("roll_hash"),
        F.size("harr").alias("n_tokens"),
    )


# n-gram language ID: score each language by marker-n-gram frequency in
# the lowered text, counted with the replace-length identity (identical
# builtins both engines); zh scored by CJK char count.  Argmax with a
# fixed tiebreak order.
_LID_MARKS = [("de", " der "), ("es", " el "), ("fr", " le "), ("en", " the ")]
_LID_SCORE_LIST = [
    f"cast((length(lt) - length(replace(lt, '{m}', ''))) / {len(m)} AS bigint) AS c_{lang}"
    for lang, m in _LID_MARKS
]
_LID_SCORES = ", ".join(_LID_SCORE_LIST)
_CJK = "[^" + chr(0x4E00) + "-" + chr(0x9FFF) + "]"
_LID_ZH_SPARK = f"cast(length(regexp_replace(lt, '{_CJK}', '')) AS bigint) AS c_zh"
_LID_ZH_DUCK = f"cast(length(regexp_replace(lt, '{_CJK}', '', 'g')) AS bigint) AS c_zh"
_LID_PRED = (
    "CASE WHEN c_zh > 0 THEN 'zh' "
    "WHEN c_de >= greatest(c_es, c_fr, c_en) AND c_de > 0 THEN 'de' "
    "WHEN c_es >= greatest(c_fr, c_en) AND c_es > 0 THEN 'es' "
    "WHEN c_fr >= c_en AND c_fr > 0 THEN 'fr' "
    "ELSE 'en' END"
)


@register(
    "text_langid_ngram",
    oracle=f"""
    WITH lowered AS (SELECT lang, lower(text) AS lt FROM documents),
    scored AS (SELECT lang, {_LID_SCORES}, {_LID_ZH_DUCK} FROM lowered)
    SELECT lang, {_LID_PRED} AS pred_lang, count(*) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def text_langid_ngram(spark, sf_dir):
    """n-gram-profile language ID (companion to text_langid's
    char-class heuristic): marker word-n-gram counts per language via
    the replace-length identity + CJK char count, argmax with a fixed
    tiebreak.  Pure builtins → whole-stage codegen; one confusion-
    matrix groupBy is the only shuffle.
    """
    lowered = t(spark, sf_dir, "documents").select("lang", F.lower("text").alias("lt"))
    scored = lowered.select(
        "lang", *[F.expr(e) for e in _LID_SCORE_LIST], F.expr(_LID_ZH_SPARK)
    )
    return (
        scored.select("lang", F.expr(_LID_PRED).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# End-to-end corpus cleaning (the operators composed as a pipeline)
# ---------------------------------------------------------------------------


def _quality_gate_duck(kept: str) -> str:
    """DuckDB twin of _quality_gate: the documents whose doc_id the
    ``kept`` CTE lists, scored and gated."""
    return f"""
    scored AS (
        SELECT d.doc_id, d.lang, d.source,
               len({TOKS_DUCK}) AS n_tokens,
               len(list_distinct({TOKS_DUCK})) * 1.0
                   / nullif(len({TOKS_DUCK}), 0) AS ttr
        FROM documents d JOIN {kept} k ON k.doc_id = d.doc_id
    )
    SELECT doc_id, lang, source, n_tokens, round(ttr, 4) AS ttr
    FROM scored
    WHERE n_tokens >= 5 AND ttr >= 0.3
    """


def _quality_gate(docs, kept):
    """The documents whose doc_id ``kept`` lists, gated on quality (>= 5
    tokens, type-token ratio >= 0.3): per-row projections only."""
    toks = F.expr(TOKS_SPARK)
    n_tok = F.size(toks)
    scored = docs.join(kept, "doc_id").select(
        "doc_id",
        "lang",
        "source",
        n_tok.alias("n_tokens"),
        (F.size(F.array_distinct(toks)) * F.lit(1.0) / F.nullif(n_tok, F.lit(0))).alias(
            "ttr_raw"
        ),
    )
    return (
        scored.filter((F.col("n_tokens") >= 5) & (F.col("ttr_raw") >= 0.3))
        .select("doc_id", "lang", "source", "n_tokens", F.round("ttr_raw", 4).alias("ttr"))
    )


@register(
    "pipeline_clean_corpus",
    oracle="""
    WITH survivors AS (
        SELECT min(doc_id) AS doc_id
        FROM documents GROUP BY md5(text)
    ),"""
    + _quality_gate_duck("survivors"),
)
def pipeline_clean_corpus(spark, sf_dir):
    """Flagship composition: the training-data cleaning pipeline as ONE
    declarative plan — exact-dedup survivors (hash-groupBy, min doc_id
    wins) joined back to the corpus, then a quality gate (>=5 tokens,
    type-token ratio >= 0.3).  Catalyst fuses the whole thing: the
    survivor set is an aggregate over md5(text), the join is by key,
    and the quality features are per-row projections — at 100 TB this
    is one shuffle for the dedup, one for the join, nothing else.
    """
    docs = t(spark, sf_dir, "documents")
    survivors = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    return _quality_gate(docs, survivors.select("doc_id"))


@register(
    "pipeline_dedup_full",
    oracle=_COMPONENTS_CTES
    + """,
    exact AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    kept AS (
        SELECT e.doc_id FROM exact e
        LEFT JOIN comp c ON c.doc_id = e.doc_id AND c.doc_id <> c.keep_id
        WHERE c.doc_id IS NULL
    ),"""
    + _quality_gate_duck("kept"),
)
def pipeline_dedup_full(spark, sf_dir):
    """The COMPLETE training-corpus dedup pipeline in one key: exact
    dedup (hash-groupBy survivors) → MinHash-LSH near-dup pairs →
    transitive closure (dedup_components) → drop every non-survivor
    component member → quality gate.  This is the composition a real
    100 TB cleaning job runs; pairwise stages alone over-keep (A~B~C
    chains elect two survivors without the closure).  All stages are
    the already-verified operators — the key checks their composition
    end-to-end against a single declarative recursive-CTE oracle.
    """
    docs = t(spark, sf_dir, "documents")
    exact = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    comp = dedup_components(spark, sf_dir)
    non_survivors = comp.filter(F.col("doc_id") != F.col("keep_id")).select("doc_id")
    return _quality_gate(docs, exact.join(non_survivors, "doc_id", "left_anti"))


@register(
    "sample_split",
    oracle="""
    WITH h AS (
        SELECT doc_id, lang,
               cast(concat('0x', substr(md5(concat('split#', cast(doc_id AS varchar))), 1, 15)) AS bigint) % 1000 AS bkt
        FROM documents
    ),
    tagged AS (
        SELECT doc_id, lang, bkt,
               CASE WHEN bkt < 800 THEN 'train'
                    WHEN bkt < 900 THEN 'val'
                    ELSE 'test' END AS split
        FROM h
        WHERE bkt % 100 < (CASE WHEN lang = 'en' THEN 50 ELSE 100 END)
    )
    SELECT split, lang, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM tagged GROUP BY 1, 2
    """,
)
def sample_split(spark, sf_dir):
    """Deterministic hash sampling + train/val/test split — the
    reproducible way to sample at 100 TB.  Seeded ``df.sample()`` is
    partitioning-dependent and unreproducible across engines/runs; a
    keyed hash bucket (md5 of the stable id) gives every row a
    permanent bucket, so the SAME rows land in the same split on every
    engine, every run, any partitioning — which is why this key can be
    value-hash oracle-checked at all.  Composition shown: stratified
    downsample (keep 50% of 'en', 100% of the rest) then an 80/10/10
    split, all from one hash — pure projection, zero extra shuffles
    before the verification rollup.
    """
    d = t(spark, sf_dir, "documents")
    bkt = hash_bucket("split#")
    tagged = (
        d.select("doc_id", "lang", bkt.alias("bkt"))
        .filter((F.col("bkt") % 100) < F.when(F.col("lang") == "en", 50).otherwise(100))
        .withColumn(
            "split",
            F.when(F.col("bkt") < 800, "train").when(F.col("bkt") < 900, "val").otherwise("test"),
        )
    )
    return tagged.groupBy("split", "lang").agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register(
    "text_ngram_counts",
    oracle=_SH_CTE_DUCK
    + """
    SELECT shingle, count(*) AS n
    FROM sh GROUP BY shingle
    HAVING count(*) >= 3
    ORDER BY n DESC, shingle
    LIMIT 50
    """,
)
def text_ngram_counts(spark, sf_dir):
    """Corpus n-gram frequency table (top-50 3-grams with df >= 3) —
    the LM-analysis staple (contamination checks, boilerplate
    detection, memorization audits).  Explode → groupBy is the right
    shape: map-side partial aggregation collapses each task's repeats
    before the shuffle, so the wire carries distinct n-grams, not the
    token stream (R2: ordered with a shingle tiebreak)."""
    sh = (
        t_fanout(spark, sf_dir, "documents")
        .withColumn("toks", F.expr(TOKS_SPARK))
        .select(F.explode(F.expr(_SHINGLES_SPARK)).alias("shingle"))
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 3)
        .orderBy(F.col("n").desc(), "shingle")
        .limit(50)
    )


@register(
    "text_pii_scrub",
    oracle="""
    SELECT event_id,
           regexp_replace(
               regexp_replace(props, '"user":\\s*\\d+', '"user": "<ID>"', 'g'),
               ': \\d+', ': "<NUM>"', 'g') AS scrubbed,
           len(regexp_extract_all(props, '\\d+')) AS n_redacted
    FROM events
    """,
)
def text_pii_scrub(spark, sf_dir):
    """Regex scrubbing pass — the shape of a PII-redaction stage
    (emails/phones/ids → placeholder tokens) every public-corpus
    pipeline runs (C4/Dolma style).  Applied to the JSON props column
    (the corpus's only digit-bearing text) so the oracle actually
    rewrites content: id-valued fields → <ID>, remaining numeric
    values → <NUM>, with a per-row redaction count.  Pure projection,
    whole-stage codegen, no Python."""
    ev = t(spark, sf_dir, "events")
    scrub = F.regexp_replace(
        F.regexp_replace("props", r'"user":\s*\d+', '"user": "<ID>"'),
        r": \d+",
        ': "<NUM>"',
    )
    return ev.select(
        "event_id",
        scrub.alias("scrubbed"),
        F.size(F.expr(r"regexp_extract_all(props, '\\d+', 0)")).alias("n_redacted"),
    )


@register(
    "text_contamination",
    oracle=_SH_CTE_DUCK
    + """
    , ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
    nsh AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY doc_id)
    SELECT t.doc_id,
           any_value(n.n_sh) AS n_sh,
           count(*) AS n_hits,
           round(count(*) * 1.0 / any_value(n.n_sh), 4) AS ratio
    FROM tr t JOIN ev USING (shingle) JOIN nsh n ON n.doc_id = t.doc_id
    GROUP BY t.doc_id
    """,
)
def text_contamination(spark, sf_dir):
    """Benchmark decontamination — the pre-training must-have: flag
    training docs sharing any 3-gram shingle with a held-out eval set
    (here the deterministic doc_id % 97 == 0 slice).

    Scale shape: the eval side collapses to a DISTINCT shingle
    dictionary — small by construction (eval sets are thousands of
    docs, not billions) — and is BROADCAST, so the 100 TB train side
    is a single map-side hash-probe pass: explode shingles, probe the
    dict, partial-aggregate hits per doc.  No shuffle of the corpus,
    no candidate blow-up (the dict is distinct, so each train shingle
    matches at most once).  Shingles are per-doc distinct already
    (_SHINGLES_SPARK wraps array_distinct), so count(*) after the
    probe IS the distinct-overlap count."""
    docs = (
        t_fanout(spark, sf_dir, "documents")
        .withColumn("toks", F.expr(TOKS_SPARK))
        .select("doc_id", F.expr(_SHINGLES_SPARK).alias("sh"))
    )
    ev = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    tr = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(
            F.any_value("n_sh").alias("n_sh"),
            F.count("*").alias("n_hits"),
            F.round(F.count("*") * 1.0 / F.any_value("n_sh"), 4).alias("ratio"),
        )
    )


@register(
    "dedup_sorted_neighborhood",
    oracle="""
    WITH pl AS (
        SELECT cast(2 + greatest(0, ceil(ln(greatest(count(*) / 100000.0, 1.0))
                                         / ln(36.0))) AS int) AS plen
        FROM documents
    ),
    keyed AS (
        SELECT doc_id,
               substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 40) AS k,
               substr(text, 1, 80) AS head
        FROM documents
    ),
    nbr AS (
        SELECT substr(k, 1, pl.plen) AS blk, doc_id, head, k,
               lag(doc_id) OVER w AS prev_id,
               lag(head) OVER w AS prev_head
        FROM keyed CROSS JOIN pl
        WINDOW w AS (PARTITION BY substr(k, 1, pl.plen) ORDER BY k, doc_id)
    )
    SELECT blk, doc_id, prev_id,
           levenshtein(head, prev_head) AS dist,
           levenshtein(head, prev_head) <= 20 AS is_dup
    FROM nbr WHERE prev_id IS NOT NULL
    """,
)
def dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood near-dup detection — the third classic
    dedup family next to MinHash-LSH (dedup_near) and SimHash
    (dedup_simhash): normalize → sort by a fingerprint key → compare
    only ADJACENT rows (levenshtein on an 80-char head).

    Scale shape: a GLOBAL sort of 100 TB is exactly what we refuse to
    do, so the sort is blocked by a prefix of the key — windows sort
    within blocks only (classic blocked sorted-neighborhood), turning
    one global range-shuffle into |blocks| independent local sorts.
    The prefix LENGTH scales with the corpus
    (plen = 2 + ⌈log₃₆(n/100k)⌉, from a broadcast 1-row count): a
    fixed 2-char prefix caps blocks at 36² forever, which at 100 TB
    means ≤1296 window partitions — 1296 tasks sorting ~77 GB each.
    Growing the prefix one char per 36× of data keeps per-block rows
    (and so per-task sort size) roughly constant; narrower blocks
    compare fewer cross-prefix neighbors, the standard blocked-SNM
    recall trade.  Every shipped corpus (n ≤ 100k ⇒ plen = 2) blocks
    identically to the historical scheme.  Comparisons are O(n)
    adjacent pairs, not O(n²); the levenshtein cap (80-char heads)
    bounds per-pair cost.  Every adjacent pair is returned with its
    distance (is_dup flags the ≤ 20 band) so the oracle discriminates
    even when the corpus has no near-dups at small SF."""
    from pyspark.sql import Window

    keyed = t_fanout(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.regexp_replace(F.lower("text"), "[^a-z0-9]", ""), 1, 40).alias("k"),
        F.substring("text", 1, 80).alias("head"),
    )
    pl = keyed.agg(
        (
            F.lit(2)
            + F.greatest(
                F.lit(0).cast("double"),
                F.ceil(
                    F.log(F.greatest(F.count(F.lit(1)) / 100000.0, F.lit(1.0)))
                    / F.log(F.lit(36.0))
                ).cast("double"),
            )
        )
        .cast("int")
        .alias("plen")
    )
    keyed = keyed.crossJoin(F.broadcast(pl)).withColumn(
        "blk", F.expr("substring(k, 1, plen)")
    )
    w = Window.partitionBy("blk").orderBy("k", "doc_id")
    nbr = keyed.select(
        "blk",
        "doc_id",
        "head",
        "k",
        F.lag("doc_id").over(w).alias("prev_id"),
        F.lag("head").over(w).alias("prev_head"),
    ).filter(F.col("prev_id").isNotNull())
    dist = F.levenshtein("head", "prev_head")
    return nbr.select(
        "blk", "doc_id", "prev_id", dist.alias("dist"), (dist <= 20).alias("is_dup")
    )


# ---------------------------------------------------------------------------
# Corpus-curation additions (round 4): heuristic quality gate, sequence
# packing, domain-mixture rebalancing — the three curation stages
# between "raw crawl" and "training tokens" not yet covered above.
# ---------------------------------------------------------------------------

def gopher_stop_hits():
    """Distinct-stopword hit count over the ``toks`` column — shared by
    text_gopher_rules and pipeline_train_ready so the gate cannot
    silently diverge from the standalone operator."""
    return F.size(
        F.expr(
            f"filter(array_distinct(toks), x -> array_contains(array({_STOPWORDS}), x))"
        )
    )


def gopher_symbol_ratio(n_tokens):
    """Non-alphanumeric character count per token (unrounded) — the
    symbol-to-word ratio rule's shared core."""
    return F.length(F.regexp_replace("text", r"[a-z0-9\s]", "")) * F.lit(1.0) / n_tokens



@register(
    "text_gopher_rules",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text, {TOKS_DUCK} AS toks FROM documents
    ),
    feat AS (
        SELECT doc_id,
               len(toks) AS n_words,
               round(list_aggregate(list_transform(toks, x -> len(x)), 'sum')
                     * 1.0 / len(toks), 4) AS mean_word_len,
               round(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                     * 1.0 / len(toks), 4) AS frac_alpha_words,
               len(list_filter(list_distinct(toks),
                               x -> list_contains([{_STOPWORDS}], x)))
                   AS n_stop_hits,
               round(len(regexp_replace(text, '[a-z0-9\\s]', '', 'g'))
                     * 1.0 / len(toks), 4) AS symbol_word_ratio
        FROM base WHERE len(toks) > 0
    )
    SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stop_hits,
           symbol_word_ratio,
           (n_words BETWEEN 5 AND 100000
            AND mean_word_len BETWEEN 2.0 AND 12.0
            AND frac_alpha_words >= 0.7
            AND n_stop_hits >= 1
            AND symbol_word_ratio <= 0.6) AS passes
    FROM feat
    """,
)
def text_gopher_rules(spark, sf_dir):
    """Gopher-style heuristic quality gate (Rae et al. 2021, §A1.1):
    word-count bounds, mean-word-length band, alphabetic-word
    fraction, minimum distinct-stopword hits, symbol-to-word ratio —
    the standard pre-filter every large-scale pretraining corpus runs
    before dedup.

    Scale shape: pure per-row projection over built-in expressions
    (whole-stage codegen, zero shuffles, no UDFs) — at 100 TB this is
    a single map stage fused into the scan.  Emits the per-rule
    features alongside the verdict so threshold tuning reads the same
    relation; every float rounded to 4 dp for cross-engine hashing.
    """
    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(TOKS_SPARK))
    n = F.size("toks")
    mean_wl = F.round(
        F.expr("aggregate(transform(toks, x -> length(x)), 0, (acc, v) -> acc + v)")
        * F.lit(1.0)
        / n,
        4,
    )
    frac_alpha = F.round(
        F.size(F.expr("filter(toks, x -> x rlike '[a-z]')")) * F.lit(1.0) / n, 4
    )
    n_stop = gopher_stop_hits()
    sym_ratio = F.round(gopher_symbol_ratio(n), 4)
    feat = docs.filter(n > 0).select(
        "doc_id",
        n.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        n_stop.alias("n_stop_hits"),
        sym_ratio.alias("symbol_word_ratio"),
    )
    return feat.withColumn(
        "passes",
        F.col("n_words").between(5, 100000)
        & F.col("mean_word_len").between(2.0, 12.0)
        & (F.col("frac_alpha_words") >= 0.7)
        & (F.col("n_stop_hits") >= 1)
        & (F.col("symbol_word_ratio") <= 0.6),
    )


PACK_BUDGET = 512  # tokens per packed training sequence
# Packing restarts every PACK_SHARD_DOCS doc-ids within a source: the
# cumsum window partitions on (source, doc_id div PACK_SHARD_DOCS), so
# per-task sort size is bounded no matter how large one source grows —
# partitioning by source alone makes ONE window partition per source
# (a handful of ~20 TB sorts at 100 TB).  The cost is one possibly
# part-filled sequence per shard boundary — exactly the trade
# production shard-local packing makes.  Every shipped corpus has
# doc_id < 100000, so pack_shard = 0 everywhere and results match the
# historical per-source packing bit-for-bit.
PACK_SHARD_DOCS = 100_000


@register(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, doc_id // {PACK_SHARD_DOCS} AS pack_shard,
               len({TOKS_DUCK}) AS n_tok
        FROM documents
    ),
    pos AS (
        SELECT doc_id, source, pack_shard, n_tok,
               sum(n_tok) OVER (PARTITION BY source, pack_shard ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok AS tok_offset
        FROM toks
    )
    SELECT source, pack_shard,
           cast(floor(tok_offset / {PACK_BUDGET}) AS bigint) AS seq_id,
           count(*) AS n_docs, cast(sum(n_tok) AS bigint) AS total_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM pos GROUP BY 1, 2, 3
    """,
)
def pack_sequences(spark, sf_dir):
    """Training-sequence packing: concatenate each shard's documents
    (doc_id order) into one token stream and cut it into fixed-budget
    sequences (PACK_BUDGET tokens); a doc belongs to the sequence
    containing its first token.  This is the contiguous-packing step a
    pretraining pipeline runs after tokenization — the rollup reports
    docs/tokens per packed sequence.

    Scale shape: the running offset is a cumulative-sum window
    PARTITIONED BY (source, pack_shard) — no global sort, no
    single-partition window, and no unbounded partition either: the
    doc_id-range sub-shard (PACK_SHARD_DOCS block comment) bounds
    every window partition's sort regardless of how one source grows.
    One shuffle feeds both the window and the rollup.
    """
    from pyspark.sql import Window

    toks = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(f"doc_id div {PACK_SHARD_DOCS}").alias("pack_shard"),
        F.size(F.expr(TOKS_SPARK)).alias("n_tok"),
    )
    w = (
        Window.partitionBy("source", "pack_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = toks.withColumn("tok_offset", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (
        pos.groupBy(
            "source",
            "pack_shard",
            F.floor(F.col("tok_offset") / PACK_BUDGET).alias("seq_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "sample_mixture",
    oracle="""
    WITH counts AS (
        SELECT source, count(*) AS n_src FROM documents GROUP BY source
    ),
    target AS (SELECT min(n_src) AS n_min FROM counts),
    keyed AS (
        SELECT d.doc_id, d.source, c.n_src, t.n_min,
               cast(concat('0x', substr(md5(concat('mix#', cast(d.doc_id AS varchar))), 1, 15)) AS bigint) % 1000 AS bkt
        FROM documents d JOIN counts c USING (source) CROSS JOIN target t
    )
    SELECT source, any_value(n_src) AS orig_n, count(*) AS kept_n
    FROM keyed
    WHERE bkt < cast(floor(n_min * 1000.0 / n_src) AS bigint)
    GROUP BY source
    """,
)
def sample_mixture(spark, sf_dir):
    """Domain-mixture rebalancing: deterministically downsample every
    source shard to the size of the smallest one (uniform domain mix —
    the Pile/Dolma-style mixture-weight step, here with weights
    computed FROM the data: w_s = n_min / n_s).

    Keyed-md5 bucketing (same primitive as sample_split) makes the
    kept set a pure function of doc_id — reproducible on any engine,
    any partitioning, any run.  Scale shape: per-source counts are a
    map-side-combined aggregate whose result has |sources| rows —
    broadcast-joined back (explicit hint: source cardinality stays
    small even at 100 TB rows), so the corpus itself is never
    shuffled; the filter is a projection.
    """
    d = t(spark, sf_dir, "documents")
    # counts (|sources| rows) feeds the broadcast join AND the n_min
    # scalar — persisted so its corpus scan runs once (r15 audit:
    # 3 scans → 2; the main keyed side still scans, as it must).
    counts = d.groupBy("source").agg(F.count("*").alias("n_src")).persist()
    n_min = counts.agg(F.min("n_src").alias("n_min"))
    bkt = hash_bucket("mix#")
    keyed = (
        d.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(n_min))
        .withColumn("bkt", bkt)
    )
    kept = keyed.filter(
        F.col("bkt")
        < F.floor(F.col("n_min") * F.lit(1000.0) / F.col("n_src")).cast("bigint")
    )
    return kept.groupBy("source").agg(
        F.any_value("n_src").alias("orig_n"), F.count("*").alias("kept_n")
    )


@register(
    "text_unigram_ppl",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({TOKS_DUCK}) AS word FROM documents
    ),
    vocab AS (
        SELECT word, count(*) AS n_w FROM tok GROUP BY word
    ),
    corpus AS (SELECT cast(sum(n_w) AS bigint) AS n_total FROM vocab),
    scored AS (
        SELECT t.doc_id, ln(v.n_w * 1.0 / c.n_total) AS lp
        FROM tok t JOIN vocab v USING (word) CROSS JOIN corpus c
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(-avg(lp), 4) AS avg_nll,
           round(exp(-avg(lp)), 2) AS ppl
    FROM scored GROUP BY doc_id
    """,
)
def text_unigram_ppl(spark, sf_dir):
    """Unigram-LM perplexity scoring — the CCNet-style statistical
    quality signal: train token probabilities on the corpus itself,
    score every document by mean negative log-likelihood (low ppl =
    common boilerplate-ish text, high ppl = rare-token noise).

    Scale shape mirrors text_tfidf: the vocabulary is a
    map-side-combined aggregate (shuffle carries distinct words, not
    the token stream); the token→vocab scoring join is UNHINTED so a
    100 TB vocabulary survives (AQE broadcasts when it's small); the
    1-row corpus total is hint-broadcast.  No Python anywhere.
    """
    toks = (
        t_fanout(spark, sf_dir, "documents", heavy=False)
        .select("doc_id", F.explode(F.expr(TOKS_SPARK)).alias("word"))
    )
    # vocab (distinct words, map-side combined) feeds the corpus total
    # AND the scoring join — persisted so the tokenize+count pass runs
    # once, not twice (r15 audit: 3 corpus explodes → 2; the scoring
    # pass over toks is the training/scoring second pass, inherent).
    vocab = toks.groupBy("word").agg(F.count("*").alias("n_w")).persist()
    total = vocab.agg(F.sum("n_w").cast("bigint").alias("n_total"))
    scored = (
        toks.join(vocab, "word")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("n_w") * F.lit(1.0) / F.col("n_total")).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(-F.avg("lp"), 4).alias("avg_nll"),
        F.round(F.exp(-F.avg("lp")), 2).alias("ppl"),
    )


@register(
    "embed_quantize",
    oracle="""
    WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, v,
               list_aggregate(list_transform(v, x -> abs(x)), 'max') AS scale
        FROM base
    ),
    q AS (
        SELECT vec_id, scale,
               list_transform(v, x -> cast(floor(x * 127.0 / scale + 0.5) AS bigint)) AS qv,
               v
        FROM scaled WHERE scale > 0
    )
    SELECT vec_id, round(scale, 6) AS scale,
           qv[1] AS q0, qv[2] AS q1,
           cast(list_aggregate(list_transform(qv, x -> abs(x)), 'max') AS bigint) AS q_max,
           round(sqrt(list_aggregate(
               list_transform(list_zip(v, qv),
                              p -> pow(p[1] - p[2] * scale / 127.0, 2)),
               'sum')), 4) AS recon_err
    FROM q
    """,
)
def embed_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column — the
    vector-index compression step (4× smaller, SIMD int dot products)
    every large ANN deployment runs before serving.

    Per-row arithmetic only (scale = max|x|, q_i = round-half-up of
    x_i*127/scale, reconstruction L2 error) via built-in higher-order
    functions — zero shuffles, codegen end-to-end.  Quantized values
    are exact integers (floor(x+0.5) pins half-way cases identically
    in both engines), so the oracle hash-checks them directly;
    floats are rounded (scale 6 dp, error 4 dp).
    """
    base = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    scaled = base.withColumn(
        "scale", F.expr("array_max(transform(v, x -> abs(x)))")
    ).filter(F.col("scale") > 0)
    q = scaled.withColumn(
        "qv", F.expr("transform(v, x -> cast(floor(x * 127.0 / scale + 0.5) as bigint))")
    )
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.expr("qv[0]").alias("q0"),
        F.expr("qv[1]").alias("q1"),
        F.expr("array_max(transform(qv, x -> abs(x)))").cast("bigint").alias("q_max"),
        F.round(
            F.sqrt(
                F.expr(
                    "aggregate(zip_with(v, qv, (x, qi) -> pow(x - qi * scale / 127.0, 2)), "
                    "cast(0.0 as double), (acc, e) -> acc + e)"
                )
            ),
            4,
        ).alias("recon_err"),
    )


@register(
    "pipeline_train_ready",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, source, text, {TOKS_DUCK} AS toks FROM documents
    ),
    gated AS (
        SELECT doc_id, source, text, len(toks) AS n_tok
        FROM feat
        WHERE len(toks) >= 5
          AND len(list_filter(list_distinct(toks),
                              x -> list_contains([{_STOPWORDS}], x))) >= 1
          AND len(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) * 1.0 / len(toks) <= 0.6
    ),
    deduped AS (
        SELECT doc_id, source, n_tok
        FROM (
            SELECT doc_id, source, n_tok,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM gated
        ) WHERE rn = 1
    ),
    counts AS (SELECT source, count(*) AS n_src FROM deduped GROUP BY source),
    target AS (SELECT min(n_src) AS n_min FROM counts),
    mixed AS (
        SELECT d.doc_id, d.source, d.n_tok
        FROM deduped d JOIN counts c USING (source) CROSS JOIN target t
        WHERE cast(concat('0x', substr(md5(concat('mix#', cast(d.doc_id AS varchar))), 1, 15)) AS bigint) % 1000
              < cast(floor(t.n_min * 1000.0 / c.n_src) AS bigint)
    ),
    packed AS (
        SELECT source, n_tok, doc_id // {PACK_SHARD_DOCS} AS pack_shard,
               sum(n_tok) OVER (PARTITION BY source, doc_id // {PACK_SHARD_DOCS}
                                ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok AS tok_offset
        FROM mixed
    )
    SELECT source,
           pack_shard * 4294967296 + cast(floor(tok_offset / {PACK_BUDGET}) AS bigint)
             AS seq_id,
           count(*) AS n_docs, cast(sum(n_tok) AS bigint) AS total_tokens
    FROM packed GROUP BY 1, 2
    """,
)
def pipeline_train_ready(spark, sf_dir):
    """Flagship curation composition: raw corpus → PACKED TRAINING
    SEQUENCES in one declarative plan — Gopher quality gate (pure
    projection), exact dedup (min-id survivor per text hash), domain
    mixture rebalance to the smallest source (broadcast counts +
    keyed-md5 threshold), and fixed-budget sequence packing
    (shard-partitioned cumsum).  This is the end-to-end path a
    pretraining data pipeline runs nightly; every stage is the
    registered standalone operator, composed unchanged.

    Shuffle budget at any scale: dedup window (by text hash) + counts
    aggregate (tiny) + packing window (by source) = three key-shuffles
    of the *surviving* corpus — the gate runs fused into the scan
    before any of them, so filtered-out docs never shuffle at all.
    """
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").withColumn("toks", F.expr(TOKS_SPARK))
    n = F.size("toks")
    n_stop = gopher_stop_hits()
    sym_ratio = gopher_symbol_ratio(n)
    gated = docs.filter((n >= 5) & (n_stop >= 1) & (sym_ratio <= 0.6)).select(
        "doc_id", "source", "text", n.alias("n_tok")
    )
    w_dup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    # deduped feeds the mixture counts, the n_min scalar AND the main
    # mixed branch — persisted (survivor ids + n_tok only, text
    # projected away) so the tokenize+gate+dedup-window spine runs
    # once, not three times (r15 audit: 3 corpus scans).
    deduped = (
        gated.withColumn("rn", F.row_number().over(w_dup))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_tok")
        .persist()
    )
    counts = deduped.groupBy("source").agg(F.count("*").alias("n_src"))
    n_min = counts.agg(F.min("n_src").alias("n_min"))
    bkt = hash_bucket("mix#")
    mixed = (
        deduped.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(n_min))
        .filter(bkt < F.floor(F.col("n_min") * F.lit(1000.0) / F.col("n_src")).cast("bigint"))
        .select("doc_id", "source", "n_tok")
    )
    # pack-shard the cumsum like pack_sequences (PACK_SHARD_DOCS block
    # comment) — the sub-shard folds into seq_id (shard · 2³²) instead
    # of a new column, so the composite's schema is unchanged and
    # shipped corpora (doc_id < 100k ⇒ shard 0) pack bit-identically.
    w_pack = (
        Window.partitionBy("source", F.expr(f"doc_id div {PACK_SHARD_DOCS}"))
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = mixed.withColumn("tok_offset", F.sum("n_tok").over(w_pack) - F.col("n_tok"))
    return (
        packed.groupBy(
            "source",
            (
                F.expr(f"(doc_id div {PACK_SHARD_DOCS}) * 4294967296L")
                + F.floor(F.col("tok_offset") / PACK_BUDGET)
            ).alias("seq_id"),
        )
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").cast("bigint").alias("total_tokens"))
    )


@register(
    "dedup_incremental",
    oracle="""
    WITH index_hashes AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250
    ),
    batch AS (
        SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id >= 250
    ),
    new_docs AS (
        SELECT b.doc_id, b.source, b.h
        FROM batch b LEFT JOIN index_hashes i ON b.h = i.h
        WHERE i.h IS NULL
    ),
    first_in_batch AS (
        SELECT doc_id, source
        FROM (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
            FROM new_docs
        ) WHERE rn = 1
    )
    SELECT source, count(*) AS n_ingested, min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM first_in_batch GROUP BY source
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup — the shape a production pipeline runs
    nightly: a NEW batch is deduplicated against the hash index of
    everything already ingested (anti-join), then within itself
    (first-occurrence window).  Nothing is recomputed over the
    historical corpus — only its hash index (one slim column) is
    touched, which is what makes dedup sustainable at a growing
    100 TB: the index is partitioned by hash and the anti-join
    co-shuffles just the new batch against it.

    The 'index' here is the first half of documents (doc_id < 250)
    and the batch the second half — deterministic, so fully
    oracle-checked.
    """
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    index_hashes = docs.filter(F.col("doc_id") < 250).select("h").distinct()
    batch = docs.filter(F.col("doc_id") >= 250)
    new_docs = batch.join(index_hashes, "h", "left_anti")
    w = Window.partitionBy("h").orderBy("doc_id")
    first = (
        new_docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source")
    )
    return first.groupBy("source").agg(
        F.count("*").alias("n_ingested"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


N_BPE_MERGES = 5


def _bpe_pair_counts(words):
    """Weighted adjacent-symbol pair counts over the word vocabulary.
    words: (syms array<string>, n bigint).  Explode+groupBy with
    map-side combine — the shuffle carries distinct pairs, and it runs
    over the VOCABULARY (distinct words × their counts), never the
    token stream."""
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(slice(syms, 1, size(syms) - 1), (s, i) -> struct(s as a, syms[i + 1] as b))"
            )
        ).alias("p"),
        "n",
    )
    return pairs.groupBy("p.a", "p.b").agg(F.sum("n").alias("cnt"))


def _bpe_apply_merge(words, a: str, b: str):
    """Greedy left-to-right merge of adjacent (a, b) → a||b inside each
    word's symbol array.

    a != b (every committed rule, and almost every learned rule):
    leftmost-non-overlapping string ``replace`` iterated to fixpoint
    (3 passes) over the space-joined symbol string, exactly the
    oracle's ``_replace_fixpoint_sql`` formulation; fixpoint == greedy
    for non-self pair merges (a merged symbol does not re-pair within
    a pass), exhaustively pinned to |word|=12 and randomized to 40 in
    tests/test_llm.py::test_bpe_apply_oracle_fixpoint_equals_greedy.
    Zero shuffles, pure codegen string ops.

    a == b (r16, ADVICE r15): the replace path is NOT greedy for
    self-pairs — on a run of >=5 identical symbols the patterns share
    their delimiter space, so pass 1 merges alternating occurrences
    and strands singles between merged pairs permanently (6x'a' under
    ('a','a') → [aa, a, aa, a] vs greedy [aa, aa, aa]).  Self-pairs
    take the original per-row aggregate() fold, which IS the greedy
    scan (and needs no symbol escaping).  Learned rules can be
    self-pairs on real corpora (letter runs), so the trainer's
    bit-identity contract with the sequential reference depends on
    this branch.

    r15: the previous formulation was a per-symbol aggregate() fold
    whose accumulator array was rebuilt via concat per element — an
    interpreted O(|word|²)-copies path that cost bpe_apply 33.7 s at
    sf0.1; native UTF8String replace does the same merge in ~0.5 s."""
    if a == b:
        merged = (
            "aggregate(syms, struct(cast(array() as array<string>) as acc, "
            "cast(null as string) as prev), "
            "(s, x) -> case "
            f" when s.prev is null then struct(s.acc as acc, x as prev) "
            f" when s.prev = '{a}' and x = '{b}' then "
            f"   struct(concat(s.acc, array('{a}{b}')) as acc, cast(null as string) as prev) "
            " else struct(concat(s.acc, array(s.prev)) as acc, x as prev) end, "
            "s -> case when s.prev is null then s.acc "
            "     else concat(s.acc, array(s.prev)) end)"
        )
        return words.select(F.expr(merged).alias("syms"), "n")
    s = "concat(' ', array_join(syms, ' '), ' ')"
    pat, rep = f" {a} {b} ", f" {a}{b} "
    for _ in range(3):
        s = f"replace({s}, '{pat}', '{rep}')"
    merged = f"case when size(syms) = 0 then syms else split(trim({s}), ' ') end"
    return words.select(F.expr(merged).alias("syms"), "n")


def _bpe_safe_batch(top, list_full: bool, max_take: int):
    """From one round's sorted top-N pair counts, take the longest
    PREFIX that is provably identical to what the sequential trainer
    would pick step by step (the fast-BPE batching trick, restricted to
    the exactness-preserving subset):

    * batch pairs must be pairwise symbol-disjoint — merging (a1,b1)
      cannot change the count of a disjoint pair, so round-start counts
      stay exact for the rest of the batch;
    * a later candidate's symbols must not textually equal an earlier
      merge's concatenation (the new symbol would conflate with it);
    * every NEW pair a merge creates is bounded by the round-start
      count of a pair sharing a symbol with that merge
      (cnt(x, a1b1) <= cnt(x, a1)), so a candidate is only safe while
      no unselected symbol-sharing pair has count >= its own — strict,
      because a renamed new pair can win a lexicographic tie;
    * when the collected list was truncated (list_full), uncollected
      pairs can tie anything at or below the last collected count, so
      candidates at that count are unsafe.

    The first element is always exact (it is the global argmax under
    the full (cnt desc, a, b) order).  Returns [(a, b, cnt), ...].
    """
    sel: list[tuple[str, str, int]] = []
    used: set[str] = set()
    concats: set[str] = set()
    for i, r in enumerate(top):
        if len(sel) >= max_take:
            break
        a, b, c = r.a, r.b, r.cnt
        if sel:
            if a in used or b in used or a in concats or b in concats:
                break
            if list_full and c <= top[-1].cnt:
                break
            threat = any(
                (q.a in used or q.b in used) and q.cnt >= c for q in top[i + 1 :]
            )
            if threat:
                break
        sel.append((a, b, int(c)))
        used.update((a, b))
        concats.add(a + b)
    return sel


def _bpe_train_words(
    spark, words, n_merges: int, batch_top_n: int = 64, stats: dict | None = None
):
    """Core BPE trainer over a (syms array<string>, n bigint) word
    vocabulary.  Per ROUND (not per merge): ONE pair-count aggregate
    (map-side combined) + ONE top-N collect (metadata-sized: N<=64
    rows) + a composed per-row merge fold for every merge the round
    proved sequential-exact (``_bpe_safe_batch``).  Driver round-trips
    therefore scale with rounds, not vocabulary size — a 30k-merge
    production vocabulary is thousands of jobs fewer than the naive
    one-collect-per-merge loop, while the learned merge TABLE is
    bit-identical to the sequential trainer's."""
    rules: list[tuple[int, str, str, int]] = []
    rounds = 0
    while len(rules) < n_merges:
        words = words.localCheckpoint(eager=True)  # truncate fold lineage
        top = (
            _bpe_pair_counts(words)
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(batch_top_n)
            .collect()
        )
        rounds += 1
        if not top:
            break
        batch = _bpe_safe_batch(top, len(top) == batch_top_n, n_merges - len(rules))
        for a, b, cnt in batch:
            rules.append((len(rules), a, b, cnt))
            words = _bpe_apply_merge(words, a, b)
    if stats is not None:
        stats["rounds"] = rounds
        stats["merges"] = len(rules)
    from raster2points_spark.io import local_df

    return local_df(
        spark, rules, "rank int, sym_a string, sym_b string, pair_count bigint"
    )


def bpe_train(spark, sf_dir, n_merges: int = N_BPE_MERGES, stats: dict | None = None):
    """Distributed BPE tokenizer training (Sennrich et al. 2016) —
    learn the top-K merge rules from the corpus.

    Scale shape: the corpus is touched ONCE to build the word
    vocabulary; training then iterates over the vocab with one
    aggregate + one top-N collect per ROUND, batch-applying every
    merge that round's counts prove sequential-exact (see
    ``_bpe_train_words`` / ``_bpe_safe_batch``).  This is the textbook
    map-reduce BPE trainer with the fast-BPE batching trick, not a
    driver-side loop over tokens — and not a collect per merge.
    """
    docs = t_fanout(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(TOKS_SPARK)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .select(F.expr("transform(split(w, ''), c -> c)").alias("syms"), "n")
        .filter(F.size("syms") > 0)
    )
    return _bpe_train_words(spark, words, n_merges, stats=stats)


@register("bpe_train", check="rows-only")
def bpe_train_q(spark, sf_dir):
    """Driver key: the learned top-5 merge table.  rows-only by design
    — replicating 5 unrolled merge iterations in one SQL oracle would
    test the oracle author, not the engine; instead the unit test
    checks the merges against a pure-Python reference BPE trainer on
    the same corpus sample."""
    return bpe_train(spark, sf_dir)


# fixed, corpus-independent merge table for the oracle-checked APPLY
# path (rule 3 consumes rule 2's output — sequential application is
# part of what the oracle checks)
BPE_APPLY_RULES = [("e", "r"), ("t", "h"), ("th", "e"), ("a", "n"), ("i", "n")]


def _replace_fixpoint_sql(expr: str, a: str, b: str, passes: int = 3) -> str:
    """SQL for merging adjacent (a, b) in a space-delimited symbol
    string by iterating leftmost-non-overlapping ``replace`` to
    FIXPOINT.  A single pass under-merges overlapping-ADJACENT
    occurrences (' a n a n a ' — the match consumes the shared
    delimiter space, so 'banana' would yield [b, an, a, n, a] instead
    of greedy's [b, an, an, a]).  Pass 1 merges alternating members of
    such a run, which isolates the survivors, so pass 2 reaches the
    fixpoint; fixpoint == greedy left-to-right for pair merges
    (exhaustively verified to |word|=12 and randomized to 40 in
    tests/test_llm.py::test_bpe_apply_oracle_fixpoint_equals_greedy).
    Three passes are emitted for margin."""
    pat, rep = f" {a} {b} ", f" {a}{b} "
    for _ in range(passes):
        expr = f"replace({expr}, '{pat}', '{rep}')"
    return expr


@register(
    "bpe_apply",
    oracle=f"""
    WITH words AS (
        SELECT w, count(*) AS n
        FROM (SELECT unnest({TOKS_DUCK}) AS w FROM documents)
        GROUP BY w
    ),
    s0 AS (SELECT ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s, n FROM words),
    s1 AS (SELECT {_replace_fixpoint_sql('s', 'e', 'r')} AS s, n FROM s0),
    s2 AS (SELECT {_replace_fixpoint_sql('s', 't', 'h')} AS s, n FROM s1),
    s3 AS (SELECT {_replace_fixpoint_sql('s', 'th', 'e')} AS s, n FROM s2),
    s4 AS (SELECT {_replace_fixpoint_sql('s', 'a', 'n')} AS s, n FROM s3),
    s5 AS (SELECT {_replace_fixpoint_sql('s', 'i', 'n')} AS s, n FROM s4),
    tok AS (SELECT unnest(string_split(trim(s), ' ')) AS token, n FROM s5)
    SELECT token, cast(sum(n) AS bigint) AS cnt
    FROM tok GROUP BY token ORDER BY cnt DESC, token LIMIT 50
    """,
)
def bpe_apply(spark, sf_dir):
    """[r10] BPE tokenizer APPLICATION, oracle-checked: apply a fixed
    merge table (rule 3 merges rule 2's output — order matters) to the
    word vocabulary via the per-row aggregate() fold
    (``_bpe_apply_merge``) and return the top-50 resulting tokens by
    corpus count.  The oracle restates greedy left-to-right
    non-overlapping merging as per-rule ``replace`` iterated to
    FIXPOINT over space-joined symbol strings (a SINGLE
    leftmost-non-overlapping pass is NOT equivalent on
    overlapping-adjacent occurrences — see ``_replace_fixpoint_sql``),
    so a hash match proves the fold's merge semantics against an
    independent formulation on every corpus, including words like
    'banana'/'mining' with adjacent rule hits.
    bpe_train (rows-only) learns rules; this key pins how they are
    APPLIED.

    Scale shape: the corpus is touched once to build the vocab; merges
    are zero-shuffle per-row folds over the VOCABULARY; one map-side-
    combined token rollup + TakeOrderedAndProject top-50."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(TOKS_SPARK)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .select(F.expr("split(w, '')").alias("syms"), "n")
        .filter(F.size("syms") > 0)
    )
    for a, b in BPE_APPLY_RULES:
        words = _bpe_apply_merge(words, a, b)
    # persisted materialization BARRIER (r15): without it
    # CollapseProject inlines the five chained merge expressions into
    # the Generate(explode) stage and the final aggregate — one
    # enormous codegen unit whose compilation alone cost ~19-30 s
    # (31-row vocabulary!); materializing the merged vocabulary first
    # keeps each codegen unit expression-sized (33.7 s → 4.2 s cold,
    # 0.4 s warm).  The vocabulary is |distinct words| — tiny relative
    # to the corpus at any scale.
    words = words.persist()
    return (
        words.select(F.explode("syms").alias("token"), "n")
        .groupBy("token")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(50)
    )


@register(
    "text_url_domain",
    oracle="""
    WITH urls AS (
        SELECT doc_id,
               concat('https://', source, '.example.com/docs/',
                      cast(doc_id AS varchar), '?lang=', lang) AS url
        FROM documents
    ),
    parsed AS (
        SELECT doc_id,
               regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
               regexp_extract(url, '^https?://[^/]+(/[^?#]*)', 1) AS path,
               regexp_extract(url, '\\?lang=([a-z]+)', 1) AS lang_param
        FROM urls
    )
    SELECT domain, lang_param, count(*) AS n,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM parsed GROUP BY 1, 2
    """,
)
def text_url_domain(spark, sf_dir):
    """URL domain/path extraction + per-domain rollup — the web-corpus
    staple (domain-level dedup keys, mixture weights, blocklists all
    key on the registrable domain).  URLs are synthesized
    deterministically from the corpus (no URL column exists); Spark
    uses the JVM `parse_url` built-in for HOST while the oracle states
    the same extraction as anchored regexes — matching proves the two
    formulations agree, and the regex twin is what you would port to
    an engine without parse_url.  Pure projection + one rollup
    shuffle."""
    d = t(spark, sf_dir, "documents")
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/docs/"),
            F.col("doc_id").cast("string"),
            F.lit("?lang="),
            F.col("lang"),
        ).alias("url"),
    )
    parsed = urls.select(
        "doc_id",
        F.expr("parse_url(url, 'HOST')").alias("domain"),
        F.expr("parse_url(url, 'PATH')").alias("path"),
        F.expr("parse_url(url, 'QUERY', 'lang')").alias("lang_param"),
    )
    return parsed.groupBy("domain", "lang_param").agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# Embedding utilities (round-5 additions)
# ---------------------------------------------------------------------------


@register(
    "embed_normalize",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS e
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, e, len(e) AS dim, sqrt({_sq_norm_duck("e")}) AS nrm
        FROM q
    )
    SELECT vec_id, dim, round(nrm, 4) AS l2,
           round(e[1] / nrm, 4) AS unit_head,
           round(list_aggregate(e, 'sum') / nrm, 4) AS unit_sum
    FROM n
    """,
)
def embed_normalize(spark, sf_dir):
    """L2 norms + unit-vector checks — the preprocessing step every
    cosine-similarity stage assumes.  Pure zero-shuffle projection:
    the square-sum folds run JVM-side per row; at 100 TB this pipelines
    inside the scan stage.  Exposes norm, first unit component and the
    unit-projected component sum (deterministic sequential folds, so
    both engines agree bit-for-bit before the 4-dp round)."""
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    n = emb.select(
        "vec_id",
        "e",
        F.size("e").alias("dim"),
        F.sqrt(F.expr(_sq_norm("e"))).alias("nrm"),
    )
    return n.select(
        "vec_id",
        "dim",
        F.round("nrm", 4).alias("l2"),
        F.round(F.element_at("e", 1) / F.col("nrm"), 4).alias("unit_head"),
        F.round(
            F.expr("aggregate(e, cast(0.0 AS double), (a, v) -> a + v)") / F.col("nrm"), 4
        ).alias("unit_sum"),
    )


@register(
    "embed_centroids",
    oracle="""
    WITH e AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS pos,
               cast(unnest(embedding) AS double) AS v
        FROM embeddings
    )
    SELECT label, pos, round(avg(v), 4) AS c, count(*) AS n
    FROM e GROUP BY label, pos
    """,
)
def embed_centroids(spark, sf_dir):
    """Per-label centroid in long (label, dim-pos) form — the k-means /
    class-prototype building block.  posexplode fans each vector into
    dim rows, then ONE map-side-combined groupBy(label, pos): partial
    sums collapse to |labels|x|dim| rows before the shuffle, so at
    100 TB the exchange moves kilobytes regardless of corpus size.
    pos is emitted 1-based to match the SQL generate_subscripts twin."""
    emb = t(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("e")
    )
    return (
        emb.select("label", F.posexplode("e").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg("v"), 4).alias("c"), F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Sampling (round-5 additions)
# ---------------------------------------------------------------------------


@register(
    "sample_stratified",
    oracle="""
    WITH ranked AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(concat('strat#', cast(doc_id AS varchar))), doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY source) AS n_strat
        FROM documents
    )
    SELECT source, doc_id, rn, n_strat
    FROM ranked
    WHERE rn <= ceil(0.1 * n_strat)
    """,
)
def sample_stratified(spark, sf_dir):
    """Exact 10%-per-stratum sample: rank by a keyed md5 inside each
    source stratum and keep ceil(0.1·n) rows — engine- and
    partitioning-independent (same survivors everywhere), unlike
    rate-based hash sampling which is only 10% in expectation.

    Scale shape: the naive formulation windows the WHOLE stratum
    (|sources| window partitions = a handful of full-corpus sorts at
    100 TB).  The exact rank decomposes instead: bucket every row by
    an md5-key prefix (hex prefixes sort consistently with the full
    key, so every bucket-b row ranks before every bucket-(b+1) row),
    then rn = (survivor-count of all earlier buckets — a per-stratum
    prefix sum over the TINY (source, bucket) count relation) +
    (row_number within the row's own bucket — a BOUNDED window
    partition).  The bucket count scales with the corpus
    (16^c ∝ n; shipped corpora use the 4096-bucket floor), so no
    window partition ever exceeds ~1000 rows in expectation at any
    scale.  Selection and ranks are bit-identical to the naive
    formulation — the DuckDB oracle keeps the one-window version as
    readable ground truth, and the cross-engine hash match proves the
    decomposition.
    """
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("strat#"), F.col("doc_id").cast("string")))
    cdf = d.agg(
        F.greatest(
            F.lit(3),
            F.ceil(
                F.log(F.greatest(F.count(F.lit(1)) / 1000.0, F.lit(1.0)))
                / F.log(F.lit(16.0))
            ),
        )
        .cast("int")
        .alias("pc")
    )
    # keyed (4 narrow cols) feeds THREE consumers (nstrat, bcnt, the
    # ranked join) — unpersisted, the corpus scan + md5 keying re-ran
    # per consumer (r15 audit: 6 documents scans for one sample pass).
    keyed = (
        d.crossJoin(F.broadcast(cdf))
        .select(
            "source",
            "doc_id",
            h.alias("h"),
            F.expr(
                "substring(md5(concat('strat#', cast(doc_id AS string))), 1, pc)"
            ).alias("bkt"),
        )
        .persist()
    )
    nstrat = keyed.groupBy("source").agg(F.count("*").alias("n_strat"))
    bcnt = keyed.groupBy("source", "bkt").agg(F.count("*").alias("cnt"))
    # prefix sum over the collapsed (source, bucket) relation — 16^pc
    # rows per stratum, never the fact stream
    w_cum = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = bcnt.select(
        "source", "bkt", (F.sum("cnt").over(w_cum) - F.col("cnt")).alias("before")
    )
    w_in = Window.partitionBy("source", "bkt").orderBy("h", "doc_id")
    ranked = (
        keyed.join(offs, ["source", "bkt"])
        .join(F.broadcast(nstrat), "source")
        .select(
            "source",
            "doc_id",
            (F.col("before") + F.row_number().over(w_in)).alias("rn"),
            "n_strat",
        )
    )
    return ranked.filter(F.col("rn") <= F.ceil(0.1 * F.col("n_strat")))


@register(
    "sample_reservoir",
    oracle="""
    SELECT doc_id, source,
           md5(concat('res#', cast(doc_id AS varchar))) AS sort_key
    FROM documents
    ORDER BY sort_key, doc_id
    LIMIT 100
    """,
)
def sample_reservoir(spark, sf_dir):
    """Deterministic fixed-size (k=100) corpus sample: global top-k by
    a keyed md5 — the reproducible stand-in for reservoir sampling
    (same k rows regardless of engine, partitioning or arrival order).
    Spark plans orderBy+limit as TakeOrderedAndProject: each partition
    keeps its local top-100 and only P·k rows reach the driver-side
    merge — no global sort at any scale."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "source",
            F.md5(F.concat(F.lit("res#"), F.col("doc_id").cast("string"))).alias("sort_key"),
        )
        .orderBy("sort_key", "doc_id")
        .limit(100)
    )


@register(
    "text_heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct({TOKS_DUCK})) AS token
        FROM documents
    ),
    tot AS (SELECT count(*) AS n_docs FROM documents),
    df AS (SELECT token, count(*) AS doc_freq FROM tok GROUP BY token)
    SELECT token, doc_freq,
           round(doc_freq * 1.0 / (SELECT n_docs FROM tot), 4) AS df_frac
    FROM df
    WHERE doc_freq >= 0.05 * (SELECT n_docs FROM tot)
    """,
)
def text_heavy_hitters(spark, sf_dir):
    """Corpus-wide frequent tokens (document frequency >= 5% of docs)
    — the data-driven stopword/boilerplate detector that feeds df-caps
    like dedup_jaccard's MAX_SHINGLE_DF.  array_distinct in-row, then
    ONE map-side-combined groupBy(token); the doc count joins back as
    a 1-row broadcast.  Output is intrinsically tiny (tokens above a
    df floor), so the final filter never materializes the long tail."""
    d = t_fanout(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.expr(TOKS_SPARK))).alias("token")
    )
    df_counts = tok.groupBy("token").agg(F.count("*").alias("doc_freq"))
    total = d.agg(F.count("*").alias("n_docs"))
    return (
        df_counts.crossJoin(F.broadcast(total))
        .filter(F.col("doc_freq") >= 0.05 * F.col("n_docs"))
        .select(
            "token",
            "doc_freq",
            F.round(F.col("doc_freq") / F.col("n_docs"), 4).alias("df_frac"),
        )
    )


@register(
    "dedup_edit_distance",
    oracle="""
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           levenshtein(a.text, b.text) AS dist,
           levenshtein(a.text, b.text) <= 20 AS is_dup
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang AND a.source = b.source
     AND cast(floor(a.n_chars / 16) AS bigint) = cast(floor(b.n_chars / 16) AS bigint)
     AND a.doc_id < b.doc_id
    """,
)
def dedup_edit_distance(spark, sf_dir):
    """Exact edit-distance near-dup verification over a blocked
    candidate set — the high-precision last pass after LSH recall
    (dedup_near) when character-level fidelity matters (OCR dumps,
    config files, license boilerplate).

    Scale shape: never all-pairs.  Candidates come from a pure
    EQUI-join on (lang, source, floor(n_chars/16)) — three cheap
    deterministic blocking keys that shard the corpus into small
    homogeneous buckets, so the join hash-partitions cleanly and the
    O(len^2) levenshtein kernel runs only on same-bucket pairs.  The
    distance is computed JVM-side (codegen levenshtein), every
    candidate pair is emitted with its distance so the oracle
    discriminates even when the block has no true dups at small SF;
    is_dup flags the <= 20 band.
    """
    docs = t_fanout(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.floor(F.col("n_chars") / 16).cast("bigint").alias("len_blk"),
    )
    a = docs.alias("a")
    b = docs.alias("b")
    dist = F.levenshtein(F.col("a.text"), F.col("b.text"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.len_blk") == F.col("b.len_blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            dist.alias("dist"),
            (dist <= 20).alias("is_dup"),
        )
    )


def _chunks(spark, sf_dir, *keep):
    """(doc_id, *keep, chunk_no, chunk): every document split on single
    spaces into consecutive 5-word chunks, numbered from 0."""
    w = t_fanout(spark, sf_dir, "documents", heavy=False).select(
        "doc_id", *keep, F.split("text", " ").alias("words")
    )
    return w.select(
        "doc_id",
        *keep,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size("words") / F.lit(5.0)).cast("int") - 1),
                lambda i: F.array_join(F.slice("words", i * 5 + 1, 5), " "),
            )
        ).alias("chunk_no", "chunk"),
    )


# DuckDB twin of _chunks (source kept): c(doc_id, source, chunk_no, chunk)
_CHUNKS_DUCK = """
    WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
    c AS (SELECT doc_id, source, i - 1 AS chunk_no,
                 array_to_string(words[(i-1)*5+1:i*5], ' ') AS chunk
          FROM w, unnest(generate_series(1, cast(ceil(len(words)/5.0) AS int))) t(i))"""


@register(
    "dedup_chunks",
    oracle=_CHUNKS_DUCK
    + """,
    k AS (SELECT doc_id, chunk_no, chunk,
                 row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_no) AS rn
          FROM c)
    SELECT doc_id,
           string_agg(chunk, ' ' ORDER BY chunk_no) FILTER (WHERE rn = 1) AS clean_text,
           count(*) FILTER (WHERE rn = 1) AS kept,
           count(*) FILTER (WHERE rn > 1) AS dropped
    FROM k GROUP BY doc_id
    """,
)
def dedup_chunks(spark, sf_dir):
    """Sub-document (chunk-level) exact dedup — the CCNet/RefinedWeb
    curation step that strips repeated boilerplate SPANS while keeping
    the documents: split every doc into consecutive 5-word chunks,
    keep only the corpus-wide FIRST occurrence of each chunk (total
    order: doc_id, chunk_no), reassemble the survivors in order.

    Scale shape: the only corpus-wide shuffle keys on the CHUNK TEXT
    (content-addressed, uniformly distributed — no hot keys), exactly
    like dedup_exact's hash-groupBy but at span granularity.  The
    window inside each chunk group touches |occurrences| rows; doc
    reassembly re-shuffles on doc_id once.  Docs whose every chunk was
    seen earlier reassemble to NULL (matching the oracle's FILTERed
    string_agg).
    """
    c = _chunks(spark, sf_dir)
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("chunk").orderBy("doc_id", "chunk_no")
    )
    k = c.withColumn("rn", rn)
    kept_struct = F.when(F.col("rn") == 1, F.struct("chunk_no", "chunk"))
    return k.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept_struct)), lambda x: x.chunk),
            " ",
        ).alias("_joined"),
        F.count(F.when(F.col("rn") == 1, 1)).alias("kept"),
        F.count(F.when(F.col("rn") > 1, 1)).alias("dropped"),
    ).select(
        "doc_id",
        F.when(F.col("kept") > 0, F.col("_joined")).alias("clean_text"),
        "kept",
        "dropped",
    )


@register(
    "embed_dim_stats",
    oracle="""
    WITH d AS (
      SELECT i AS dim, embedding[i] AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)
    )
    SELECT dim, round(avg(v), 4) AS mean, round(stddev_samp(v), 4) AS std,
           round(min(v), 4) AS mn, round(max(v), 4) AS mx, count(*) AS n
    FROM d GROUP BY dim
    """,
)
def embed_dim_stats(spark, sf_dir):
    """Per-dimension moment statistics over the embedding corpus —
    the feature-normalization / drift-monitoring pass before whitening
    or quantization.

    posexplode fans each vector into (dim, v) rows, but the partial
    aggregation collapses them to |dims| rows per task BEFORE the
    exchange — the shuffle moves 64 moment tuples per partition, not
    n x 64 values, at any corpus size.
    """
    emb = t_fanout(spark, sf_dir, "embeddings")
    d = emb.select(F.posexplode("embedding").alias("pos", "v")).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"), "v"
    )
    return d.groupBy("dim").agg(
        F.round(F.avg("v"), 4).alias("mean"),
        F.round(F.stddev_samp("v"), 4).alias("std"),
        F.round(F.min("v"), 4).alias("mn"),
        F.round(F.max("v"), 4).alias("mx"),
        F.count("*").alias("n"),
    )


@register(
    "embed_whiten",
    oracle="""
    WITH d AS (
      SELECT vec_id, i AS dim, embedding[i] AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)
      WHERE i <= 4
    ), s AS (
      SELECT dim, avg(v) AS mean, stddev_samp(v) AS std FROM d GROUP BY dim
    )
    SELECT d.vec_id, d.dim, round((d.v - s.mean) / s.std, 4) AS w
    FROM d JOIN s ON d.dim = s.dim
    """,
)
def embed_whiten(spark, sf_dir):
    """Per-dimension z-score whitening (shown on the first 4 dims) —
    the two-pass normalize-by-corpus-stats transform: tiny per-dim
    stats computed once, broadcast back onto the vector stream.

    The stats side is |dims| rows (broadcast — the corpus is never
    shuffled for the join); the whitening itself is a per-row
    projection.  Both engines promote the float32 components to
    double from identical bits, so the 4-dp round is stable.
    """
    emb = t_fanout(spark, sf_dir, "embeddings")
    d = (
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .filter(F.col("pos") < 4)
        .select("vec_id", (F.col("pos") + 1).cast("bigint").alias("dim"), "v")
    )
    s = d.groupBy("dim").agg(
        F.avg("v").alias("mean"), F.stddev_samp("v").alias("std")
    )
    return d.join(F.broadcast(s), "dim").select(
        "vec_id",
        "dim",
        F.round((F.col("v") - F.col("mean")) / F.col("std"), 4).alias("w"),
    )


@register(
    "sample_weighted",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars,
             cast(('0x' || substr(md5(cast(doc_id AS varchar) || ':ws'), 1, 8)) AS bigint)
               % 1000000 AS h
      FROM documents
    ), k AS (
      SELECT doc_id, n_chars,
             pow((h + 0.5) / 1000000.0, 1.0 / n_chars) AS key
      FROM d
    )
    SELECT doc_id, n_chars, round(key, 6) AS wkey
    FROM k ORDER BY key DESC, doc_id LIMIT 50
    """,
)
def sample_weighted(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis
    -Spirakis A-ES): per-row key u^(1/w) with u derived from a seeded
    md5 of the row id, w = doc length; the global top-k by key IS a
    weighted sample — longer docs proportionally likelier.

    The standard one-pass distributed weighted sampler: key assignment
    is a pure projection, selection is top-k (TakeOrderedAndProject —
    each partition keeps its best 50, the driver merges |tasks|*50
    candidates; no global sort, no shuffle of the corpus).  Seeded md5
    instead of rand() keeps the sample reproducible across engines,
    partitionings and reruns — the property a training pipeline needs
    for auditable mixtures.
    """
    d = t_fanout(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        (
            F.conv(F.substring(F.md5(F.concat_ws(":", F.col("doc_id"), F.lit("ws"))), 1, 8), 16, 10)
            .cast("bigint")
            % 1000000
        ).alias("h"),
    )
    k = d.select(
        "doc_id",
        "n_chars",
        F.pow((F.col("h") + 0.5) / 1000000.0, 1.0 / F.col("n_chars")).alias("key"),
    )
    return (
        k.orderBy(F.col("key").desc(), "doc_id")
        .limit(50)
        .select("doc_id", "n_chars", F.round("key", 6).alias("wkey"))
    )


@register(
    "source_vocab_overlap",
    oracle=f"""
    WITH sv AS (
      SELECT DISTINCT source, unnest({TOKS_DUCK}) AS word FROM documents
    ), sizes AS (
      SELECT source, count(*) AS n FROM sv GROUP BY source
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
      FROM sv a JOIN sv b ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_common,
           round(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
)
def source_vocab_overlap(spark, sf_dir):
    """Vocabulary overlap (Jaccard) between every pair of corpus
    sources — the domain-shift diagnostic run before mixing crawl
    snapshots into one training corpus.

    The corpus collapses to DISTINCT (source, word) ONCE (map-side
    combined); everything after runs over that vocabulary relation:
    the pair intersection is an equi-join on word (sources only meet
    where they share a token — the inverted-index trick again, pair
    blowup ≤ |sources|² per word), and the sizes join back is a
    |sources|-row broadcast.  Output is |sources| choose 2 rows.
    """
    sv = (
        t_fanout(spark, sf_dir, "documents", heavy=False)
        .select("source", F.explode(F.expr(TOKS_SPARK)).alias("word"))
        .distinct()
        .persist()
    )
    sizes = sv.groupBy("source").agg(F.count("*").alias("n"))
    a = sv.alias("a")
    b = sv.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common") * 1.0 / (F.col("na") + F.col("nb") - F.col("n_common")), 4
            ).alias("jaccard"),
        )
    )


@register("text_compression_ratio", check="rows-only")
def text_compression_ratio(spark, sf_dir):
    """Compression-ratio quality signal (zlib level 6): highly
    repetitive/boilerplate text compresses far below ~0.5, random
    noise stays near 1.0 — the cheap entropy proxy CCNet/Gopher-style
    pipelines cut on.

    No SQL twin exists (DuckDB has no gzip/zlib scalar), so this is a
    rows-only key; exactness is pinned instead by a unit test that
    recomputes the same deterministic zlib-6 ratio in plain Python
    (tests/test_properties.py).  Arrow-batched mapInPandas — the
    kernel compresses each batch's strings vectorized-ish in C (zlib),
    never a per-row Python UDF.
    """
    import pandas as pd

    def kernel(batches):
        import zlib

        for pdf in batches:
            enc = pdf["text"].str.encode("utf-8")
            comp = enc.map(lambda b: len(zlib.compress(b, 6)))
            raw = enc.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw,
                    "comp_bytes": comp,
                    "ratio": (comp / raw).round(4),
                }
            )

    return (
        t_fanout(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .mapInPandas(kernel, schema="doc_id long, raw_bytes long, comp_bytes long, ratio double")
    )


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH counts AS (
      SELECT word, count(*) AS n
      FROM (SELECT unnest({TOKS_DUCK}) AS word FROM documents)
      GROUP BY word
    ), ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rnk
      FROM counts
    )
    SELECT cast(count(*) AS bigint) AS vocab,
           round(regr_slope(ln(n), ln(rnk)), 4) AS zipf_slope,
           round(regr_r2(ln(n), ln(rnk)), 4) AS r2
    FROM ranked
    """,
)
def text_zipf_slope(spark, sf_dir):
    """Zipf's-law fit over the corpus token distribution: OLS slope of
    log(freq) ~ log(rank) (natural text ≈ −1; synthetic/boilerplate
    corpora deviate hard) — a one-number corpus health diagnostic.

    Token counts are one map-side-combined aggregate; the ranking
    window and the regr_* fit run over the |vocab|-row count relation
    (tiny next to the corpus).  Deterministic rank ties via the word
    tiebreak (R2).

    Scale note (why this key did NOT get the r16 bucketed_prefix_sums
    conversion): a Zipfian count axis concentrates ~half the vocab at
    n = 1, and any value-monotone bucketing must keep all ties of one
    value in one bucket — the hot block would stay a single task, so
    the conversion buys nothing here.  The genuine scale swap is to
    collapse ties FIRST (group by n → |distinct counts| ≈ O(√vocab)
    rows), prefix-count the block offsets, and regenerate each
    block's consecutive rank range with sequence() — block-parallel,
    and rank ties need no ordering at all since tied rows share n.
    """
    from pyspark.sql import Window

    counts = (
        t_fanout(spark, sf_dir, "documents")
        .select(F.explode(F.expr(TOKS_SPARK)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    ranked = counts.select(
        "n", F.row_number().over(Window.orderBy(F.col("n").desc(), "word")).alias("rnk")
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("vocab"),
        F.round(F.regr_slope(F.log("n"), F.log("rnk")), 4).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("n"), F.log("rnk")), 4).alias("r2"),
    )


# ---------------------------------------------------------------------------
# r6 additions: temperature mixture, context windowing, URL canonical
# dedup, repetition-ratio quality gate
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.7  # mixture temperature (UL2/mT5-style n^alpha reweighting)
_TEMP_BUDGET = 10000  # documents to allocate across sources


@register(
    "sample_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
    ),
    w AS (
      SELECT source, n_docs,
             round(pow(n_docs, {_TEMP_ALPHA})
                   / sum(pow(n_docs, {_TEMP_ALPHA})) OVER (), 6) AS weight
      FROM counts
    ),
    e AS (
      SELECT source, n_docs, weight,
             cast(floor({_TEMP_BUDGET} * weight) AS bigint) AS base,
             {_TEMP_BUDGET} * weight - floor({_TEMP_BUDGET} * weight) AS rem
      FROM w
    ),
    r AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
             (SELECT {_TEMP_BUDGET} - sum(base) FROM e) AS deficit
      FROM e
    )
    SELECT source, n_docs, weight,
           cast(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS bigint) AS alloc
    FROM r
    """,
)
def sample_temperature(spark, sf_dir):
    """Temperature-scaled mixture allocation (the mT5/UL2 sampling
    rule): source weights w_s = n_s^alpha / sum(n^alpha) with
    alpha=0.7 — upweights small domains relative to proportional
    sampling without the full flattening of uniform — then an exact
    largest-remainder integer allocation of a 10k-doc budget (floor
    everywhere + one extra doc to the largest fractional remainders,
    so allocations always sum to the budget).

    Everything after the per-source count (a map-side-combined
    aggregate, |sources| rows) runs over a constant-size relation —
    the windows are free at any corpus scale.  pow() ulp skew is
    absorbed by rounding weights to 6 dp BEFORE the allocation
    arithmetic, so both engines allocate from identical doubles.
    """
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    w_all = Window.partitionBy()
    w = counts.select(
        "source",
        "n_docs",
        F.round(
            F.pow("n_docs", F.lit(_TEMP_ALPHA))
            / F.sum(F.pow("n_docs", F.lit(_TEMP_ALPHA))).over(w_all),
            6,
        ).alias("weight"),
    )
    e = w.select(
        "source",
        "n_docs",
        "weight",
        F.floor(_TEMP_BUDGET * F.col("weight")).cast("bigint").alias("base"),
        (
            _TEMP_BUDGET * F.col("weight") - F.floor(_TEMP_BUDGET * F.col("weight"))
        ).alias("rem"),
    )
    r = e.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), F.col("source")))
        .alias("rk"),
        (F.lit(_TEMP_BUDGET) - F.sum("base").over(w_all)).alias("deficit"),
    )
    return r.select(
        "source",
        "n_docs",
        "weight",
        (F.col("base") + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0))
        .cast("bigint")
        .alias("alloc"),
    )


_CTX_W, _CTX_S = 64, 48  # window size / stride (16-token overlap)


@register(
    "text_context_windows",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {TOKS_DUCK} AS toks FROM documents
    ),
    d AS (
      SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0
    ),
    w AS (
      SELECT doc_id, n, toks,
             unnest(range(0, 1 + greatest(0,
                 cast(ceil((n - {_CTX_W}) * 1.0 / {_CTX_S}) AS bigint)))) AS widx
      FROM d
    )
    SELECT doc_id, cast(widx AS bigint) AS win_idx,
           cast(widx * {_CTX_S} AS bigint) AS start_tok,
           cast(least({_CTX_W}, n - widx * {_CTX_S}) AS bigint) AS n_toks,
           md5(array_to_string(
               toks[widx * {_CTX_S} + 1 :
                    widx * {_CTX_S} + least({_CTX_W}, n - widx * {_CTX_S})],
               ' ')) AS window_md5
    FROM w
    """,
)
def text_context_windows(spark, sf_dir):
    """Overlapping context-window chunking — the training-data
    complement to pack_sequences: long documents split into 64-token
    windows at stride 48 (16-token overlap keeps boundary context),
    short documents kept whole.  The md5 of each window's text is the
    hash-checked proof that BOTH engines slice identical token spans.

    Scale shape: window offsets are generated IN-ROW
    (explode(sequence(...))) — no self-join, no shuffle; output rows ~=
    corpus tokens / stride.  The downstream tokenize-and-pack stage
    consumes (doc_id, win_idx) as its stable sequence key.
    """
    d = t(spark, sf_dir, "documents")
    docs = (
        d.withColumn("toks", F.expr(TOKS_SPARK))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
    )
    nwin = F.expr(
        f"1 + greatest(0, cast(ceil((n - {_CTX_W}) * 1.0 / {_CTX_S}) as int))"
    )
    exploded = docs.select(
        "doc_id",
        "n",
        "toks",
        F.explode(F.sequence(F.lit(0), nwin - 1)).alias("widx"),
    )
    n_toks = F.least(F.lit(_CTX_W), F.col("n") - F.col("widx") * _CTX_S)
    return exploded.select(
        "doc_id",
        F.col("widx").cast("bigint").alias("win_idx"),
        (F.col("widx") * _CTX_S).cast("bigint").alias("start_tok"),
        n_toks.cast("bigint").alias("n_toks"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    f"slice(toks, widx * {_CTX_S} + 1, "
                    f"least({_CTX_W}, n - widx * {_CTX_S}))"
                ),
            )
        ).alias("window_md5"),
    )


@register(
    "dedup_url_canonical",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'https://' || source || '.example.com/docs/p'
                           || cast(doc_id % 50 AS varchar)
               WHEN 1 THEN 'https://' || source || '.example.com/docs/p'
                           || cast(doc_id % 50 AS varchar) || '/'
               WHEN 2 THEN 'https://' || upper(source) || '.EXAMPLE.COM/docs/p'
                           || cast(doc_id % 50 AS varchar) || '?utm_source=feed'
               ELSE 'https://' || source || '.example.com/docs/p'
                           || cast(doc_id % 50 AS varchar) || '#section-2'
             END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id, url,
             concat(
               lower(regexp_extract(
                 regexp_replace(regexp_replace(regexp_replace(url,
                     '#.*$', ''), '\\?.*$', ''), '/$', ''),
                 '^(https?://[^/]*)', 1)),
               regexp_extract(
                 regexp_replace(regexp_replace(regexp_replace(url,
                     '#.*$', ''), '\\?.*$', ''), '/$', ''),
                 '^https?://[^/]*(.*)$', 1)
             ) AS canonical_url
      FROM raw
    )
    SELECT canonical_url,
           min(doc_id) AS keep_id,
           count(*) AS n_docs,
           count(DISTINCT url) AS n_raw_variants
    FROM canon GROUP BY 1
    """,
)
def dedup_url_canonical(spark, sf_dir):
    """URL canonicalization dedup — the CommonCrawl-style first pass
    that collapses fetch-level variants of one resource BEFORE any
    content hashing: strip fragment, strip query string, strip
    trailing slash, lowercase scheme+host ONLY (paths are
    case-sensitive per RFC 3986, so the path's case is preserved).
    Noisy variants are synthesized deterministically from the corpus
    (trailing slash / uppercase host / tracking query / fragment), and
    doc_id%50 paths force real collisions to dedup.

    Scale shape: canonicalization is a pure regexp projection fused
    into the scan; the dedup groupBy shuffles one row per URL — at
    100 TB this is the cheap gate that spares the expensive
    content-hash and MinHash stages ~30% of their input.
    """
    d = t(spark, sf_dir, "documents")
    pid = (F.col("doc_id") % 50).cast("string")
    base = F.concat(F.col("source"), F.lit(".example.com/docs/p"), pid)
    raw = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("https://"), base))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("https://"), base, F.lit("/")))
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://"),
                F.upper(F.col("source")),
                F.lit(".EXAMPLE.COM/docs/p"),
                pid,
                F.lit("?utm_source=feed"),
            ),
        )
        .otherwise(F.concat(F.lit("https://"), base, F.lit("#section-2")))
        .alias("url"),
    )
    stripped = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.col("url"), "#.*$", ""), r"\?.*$", ""),
        "/$",
        "",
    )
    canon = raw.select(
        "doc_id",
        "url",
        F.concat(
            F.lower(F.regexp_extract(stripped, "^(https?://[^/]*)", 1)),
            F.regexp_extract(stripped, "^https?://[^/]*(.*)$", 1),
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_docs"),
        F.count_distinct("url").alias("n_raw_variants"),
    )


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {TOKS_DUCK} AS toks FROM documents
    ),
    d AS (
      SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) >= 2
    ),
    feat AS (
      SELECT doc_id, n,
             round(1.0 - len(list_distinct(toks)) * 1.0 / n, 4) AS dup_word_frac,
             round(1.0 - len(list_distinct(
                       list_transform(range(1, n),
                                      i -> toks[i] || ' ' || toks[i + 1])))
                   * 1.0 / (n - 1), 4) AS dup_bigram_frac
      FROM d
    )
    SELECT doc_id, cast(n AS bigint) AS n_words, dup_word_frac, dup_bigram_frac,
           (dup_bigram_frac <= 0.2) AS passes
    FROM feat
    """,
)
def text_repetition_ratio(spark, sf_dir):
    """Repetition-ratio quality gate (Gopher §A1.1's repetition
    filters): duplicate-word fraction and duplicate-BIGRAM fraction
    per document — boilerplate, keyword-stuffed and looping-generation
    text scores high and is dropped before training.

    Scale shape: bigrams are built IN-ROW (transform over an index
    sequence — adjacent-pair concat never leaves the row) and both
    fractions are pure array expressions: zero shuffles, whole-stage
    codegen, fused into the corpus scan alongside the other quality
    gates.  The 0.2 bigram threshold is the conventional cut; the raw
    fractions are emitted so tuning reads this same relation.
    """
    d = t(spark, sf_dir, "documents")
    docs = (
        d.withColumn("toks", F.expr(TOKS_SPARK))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 2)
    )
    dup_word = F.round(
        1.0 - F.size(F.array_distinct("toks")) * F.lit(1.0) / F.col("n"), 4
    )
    dup_bigram = F.round(
        1.0
        - F.size(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, n - 1), "
                    "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
                )
            )
        )
        * F.lit(1.0)
        / (F.col("n") - 1),
        4,
    )
    feat = docs.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_words"),
        dup_word.alias("dup_word_frac"),
        dup_bigram.alias("dup_bigram_frac"),
    )
    return feat.withColumn("passes", F.col("dup_bigram_frac") <= 0.2)


# The D×D Gram matrix X'X: every embedding row's outer product, built
# IN-ROW and exploded as (c.i, c.j, c.p) cells for a map-side-combined
# groupBy(i, j) (embed_gram_matrix, embed_power_iteration).  The DuckDB
# twin states the same sum as an exploded self-join, g(i, j, gv).
def _gram_cells(spark, sf_dir):
    return t_fanout(spark, sf_dir, "embeddings").select(
        F.explode(
            F.expr(
                "flatten(transform(embedding, (vi, i) -> "
                "transform(embedding, (vj, j) -> "
                "struct(i + 1 as i, j + 1 as j, "
                "cast(vi as double) * cast(vj as double) as p))))"
            )
        ).alias("c")
    )


_GRAM_CTES_DUCK = """ex AS (
      SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i,
             cast(unnest(embedding) AS double) AS vi
      FROM embeddings),
    g AS (
      SELECT a.i, b.i AS j, sum(a.vi * b.vi) AS gv
      FROM ex a JOIN ex b USING (vec_id) GROUP BY 1, 2)"""


@register(
    "embed_gram_matrix",
    oracle="WITH " + _GRAM_CTES_DUCK + "\n    SELECT i, j, round(gv, 4) AS g FROM g\n",
)
def embed_gram_matrix(spark, sf_dir):
    """Gram matrix X'X over the embedding corpus — the D×D sufficient
    statistic behind PCA/whitening/linear probes (covariance = Gram of
    the centered stream; embed_whiten consumes the diagonal).

    Scale shape: each row's OUTER PRODUCT is built IN-ROW (nested
    transform over the array, flattened) so nothing is exploded before
    aggregation can combine it — the groupBy(i, j) partial-aggregates
    map-side and the shuffle carries at most D² = 4096 cells per task
    REGARDLESS of corpus size.  The oracle's exploded self-join states
    the same sum; the in-row form is what survives 100 TB (a join
    would shuffle n·D rows).  Products accumulate in double; 4-dp
    round absorbs cross-engine addition order.
    """
    cells = _gram_cells(spark, sf_dir)
    return cells.groupBy(F.col("c.i").alias("i"), F.col("c.j").alias("j")).agg(
        F.round(F.sum("c.p"), 4).alias("g")
    )


@register("agg_hll_partial_merge", check="rows-only")
def agg_hll_partial_merge(spark, sf_dir):
    """Two-level HyperLogLog pipeline over the Apache DataSketches
    surface (Spark 3.5+): per-source HLL sketches of the distinct
    doc_id universe, then hll_union_agg MERGES the partial sketches
    into a corpus-wide estimate — the re-aggregatable approximate twin
    of agg_bitmap_distinct (sketches are KBs where bitmaps are
    universe-sized; both merge without rescanning raw data).

    rows-only by design: DuckDB's approx sketch is a different
    algorithm, so there is no value-exact oracle — instead
    tests/test_llm.py pins every estimate within 5%% of the exact
    distinct count.  Output carries source-level estimates plus the
    merged ALL row so one relation shows sketch → merge → estimate.
    """
    d = t(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.hll_sketch_agg("doc_id").alias("sk"), F.count("*").alias("n_rows")
    )
    per_out = per_source.select(
        "source",
        F.hll_sketch_estimate("sk").cast("bigint").alias("est_distinct"),
        "n_rows",
    )
    merged = per_source.agg(
        F.hll_union_agg("sk").alias("sk"), F.sum("n_rows").alias("n_rows")
    ).select(
        F.lit("__ALL__").alias("source"),
        F.hll_sketch_estimate("sk").cast("bigint").alias("est_distinct"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
    )
    return per_out.unionAll(merged)


@register(
    "dedup_containment",
    oracle=_OVERLAP_CTES_DUCK
    + """
    SELECT doc_a, doc_b,
           round(n_inter * 1.0 / sa.n, 4) AS c_ab,
           round(n_inter * 1.0 / sb.n, 4) AS c_ba
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE greatest(n_inter * 1.0 / sa.n, n_inter * 1.0 / sb.n) >= 0.8
    """,
)
def dedup_containment(spark, sf_dir):
    """ASYMMETRIC near-dup detection by shingle CONTAINMENT —
    |A∩B| / |A| — the measure Jaccard misses: a short document pasted
    verbatim inside a much longer one has tiny Jaccard (union is
    dominated by the long doc) but containment ≈ 1.0 in the short
    direction.  CCNet/RefinedWeb-style pipelines gate on containment
    exactly because quote-amplified and boilerplate-wrapped copies
    look like this.  Pairs flagged when either direction ≥ 0.8; both
    directions reported so the caller keeps the superset doc.

    Same spine as dedup_jaccard (_shingle_overlap): df-capped
    inverted-index equi-join, never all-pairs, sizes joined unhinted.
    """
    inter, sizes = _shingle_overlap(spark, sf_dir)
    c_ab = F.col("n_inter") * F.lit(1.0) / F.col("sa.n")
    c_ba = F.col("n_inter") * F.lit(1.0) / F.col("sb.n")
    return (
        inter.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(F.greatest(c_ab, c_ba) >= 0.8)
        .select(
            "doc_a",
            "doc_b",
            F.round(c_ab, 4).alias("c_ab"),
            F.round(c_ba, 4).alias("c_ba"),
        )
    )


def _bigram_lm(toks):
    """Add-0.5 smoothed bigram LM over the persisted (doc_id, tk) token
    relation: returns ``(probe, ppl)``, where ``probe`` is every in-row
    bigram (doc_id, bigram, w1) joined to its corpus bigram count n2,
    its first word's unigram count n1 and the vocabulary size vsz, and
    ``ppl`` is the perplexity aggregate over a group of probe rows.

    Bigrams are built IN-ROW (zip of the token array with its own tail
    — a pure codegen projection, no token-level shuffle to construct
    them), then ONE explode feeds both the corpus bigram counts and the
    per-doc probe.  The model relations join back UNHINTED — at 100 TB
    a bigram vocabulary outgrows any executor, so these must stay
    shuffle joins; AQE demotes to broadcast while small.  The 1-row
    vocab size is a crossJoin of a 1-row aggregate (constant-size
    broadcast).
    """
    bg = (
        toks.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(arrays_zip(slice(tk, 1, size(tk) - 1), "
                    "slice(tk, 2, size(tk) - 1)), "
                    "z -> struct(concat_ws(' ', z.`0`, z.`1`) AS bigram, z.`0` AS w1))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.bigram", "p.w1")
        .persist()
    )
    c2 = bg.groupBy("bigram").agg(F.count("*").alias("n2"))
    c1 = toks.select(F.explode("tk").alias("w")).groupBy("w").agg(F.count("*").alias("n1"))
    v = c1.agg(F.count("*").alias("vsz"))
    logp = F.log2((F.col("n2") + 0.5) / (F.col("n1") + 0.5 * F.col("vsz")))
    probe = bg.join(c2, "bigram").join(c1, F.col("w1") == F.col("w")).crossJoin(F.broadcast(v))
    return probe, F.pow(F.lit(2.0), -F.sum(logp) / F.count("*"))


# DuckDB twin of _bigram_lm over a toks(doc_id, tk) CTE, ending in
# bgppl(doc_id, n_bigrams, ppl) for every document with >= 2 tokens.
_BIGRAM_LM_DUCK = """
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(tk) - 1),
                                   i -> tk[i] || ' ' || tk[i+1])) AS bigram,
             unnest(list_transform(generate_series(1, len(tk) - 1),
                                   i -> tk[i])) AS w1
      FROM toks WHERE len(tk) >= 2
    ),
    c2 AS (SELECT bigram, count(*) AS n2 FROM bg GROUP BY 1),
    uni AS (SELECT unnest(tk) AS w FROM toks),
    c1 AS (SELECT w, count(*) AS n1 FROM uni GROUP BY 1),
    v AS (SELECT count(*) AS vsz FROM c1),
    bgppl AS (
      SELECT doc_id, count(*) AS n_bigrams,
             pow(2.0, -sum(log2((n2 + 0.5) / (n1 + 0.5 * vsz))) / count(*)) AS ppl
      FROM bg JOIN c2 USING (bigram) JOIN c1 ON w1 = w CROSS JOIN v
      GROUP BY doc_id
    )"""


@register(
    "text_bigram_ppl",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKS_DUCK} AS tk FROM documents),"""
    + _BIGRAM_LM_DUCK
    + """
    SELECT doc_id, n_bigrams, round(ppl, 4) AS ppl FROM bgppl
    """,
)
def text_bigram_ppl(spark, sf_dir):
    """Per-document BIGRAM language-model perplexity with add-0.5
    smoothing — the order-2 upgrade of text_unigram_ppl: scores
    word-ORDER plausibility, so shuffled or template-stitched text
    that fools a unigram filter scores high here.  The quality gate
    LLM corpora (CCNet's LM filter) actually use.

    Spark shape: see _bigram_lm.

    Determinism: probabilities are exact rationals evaluated
    identically; the per-doc log2 sum is order-dependent only at the
    1e-13 relative level, absorbed by the 4-dp round (ppl ≈ 30).
    """
    toks = (
        t_fanout(spark, sf_dir, "documents")
        .select("doc_id", F.expr(TOKS_SPARK).alias("tk"))
        .persist()
    )
    probe, ppl = _bigram_lm(toks)
    return probe.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.round(ppl, 4).alias("ppl")
    )


# Embeddings as double lists, ev(vec_id, v), and the sim_* probe set.
_EV_DUCK = "ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"
_EV_PROBES_DUCK = f"""
    WITH {_EV_DUCK},
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM ev WHERE vec_id < 5)"""


# k-means (Lloyd) shared constants: k=8 seeded from the first 8
# vectors, 3 synchronous iterations, D=64.  The oracle SQL is
# GENERATED per iteration (chained CTEs) so both engines state the
# exact same fixpoint prefix — the graph_pagerank trick applied to an
# ML training loop.
_KM_ITERS = 3


def _kmeans_oracle() -> str:
    ctes = [
        _EV_DUCK,
        "cent0 AS (SELECT vec_id AS cid, v AS c FROM ev WHERE vec_id < 8)",
    ]
    for i in range(_KM_ITERS):
        ctes.append(
            f"d{i} AS (SELECT e.vec_id, c.cid, {_sq_dist_duck('e.v', 'c.c')} AS dist"
            f" FROM ev e CROSS JOIN cent{i} c)"
        )
        ctes.append(
            f"a{i} AS (SELECT vec_id, cid FROM ("
            f"SELECT vec_id, cid, row_number() OVER ("
            f"PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d{i}) WHERE rn = 1)"
        )
        ctes.append(
            f"u{i} AS (SELECT a.cid, generate_subscripts(e.v, 1) AS pos,"
            f" unnest(e.v) AS val FROM a{i} a JOIN ev e USING (vec_id))"
        )
        ctes.append(f"m{i} AS (SELECT cid, pos, avg(val) AS mv FROM u{i} GROUP BY 1, 2)")
        ctes.append(
            f"cent{i + 1} AS (SELECT cid, list(mv ORDER BY pos) AS c FROM m{i}"
            f" GROUP BY cid)"
        )
    last = _KM_ITERS - 1
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT a.cid, count(*) AS n,
           round(c.c[1], 4) AS c_head,
           round({_sq_norm_duck("c.c")}, 4) AS c_sq
    FROM a{last} a JOIN cent{_KM_ITERS} c ON a.cid = c.cid
    GROUP BY a.cid, c.c[1], {_sq_norm_duck("c.c")}
    """
    )


@register("ml_kmeans_lloyd", oracle=_kmeans_oracle())
def ml_kmeans_lloyd(spark, sf_dir):
    """Lloyd's k-means (k=8, 3 synchronous iterations) as a DataFrame
    loop — the canonical iterative-ML-training shape on Spark, and the
    real version of what embed_centroids fakes with labels: centroids
    LEARNED from geometry, deterministically seeded from the first 8
    vectors.

    Per iteration: (1) ASSIGN — the centroid relation is collapsed to
    a ONE-ROW array-of-structs and broadcast, so each corpus row
    computes its argmin entirely in-row: transform the centroid array
    to struct(dist, cid) (squared-L2 via a zip_with/aggregate fold in
    ascending dim order, matching the oracle's generate_series fold)
    and take array_min — lexicographic struct comparison IS the
    (dist, cid) total-ordered argmin.  ZERO shuffle, zero row fan-out:
    the r12 form (8-row crossJoin + row_number window) shuffled and
    sorted 8×|corpus| rows per round and then JOINED the assignment
    back to the corpus for the update; carrying v through the in-row
    argmin removes the window sort and the join-back entirely
    (measured 2.9 s → ~1.1 s at sf0.1, identical hash).  (2) UPDATE —
    posexplode members, ONE map-side-combined groupBy(cid, pos), and
    re-assemble each centroid with sort_array(collect_list(struct)).
    The centroid relation is localCheckpoint'ed each round: it is k×D
    rows SMALL, but its lineage would otherwise nest three
    crossJoin+window plans deep (the pagerank/components discipline).
    The checkpoint is LAZY (eager=False): the loop is fixed-count with
    no driver-side action, so Catalyst still plans each round against
    a shallow LogicalRDD, but all rounds materialize inside the one
    final job instead of paying one eager job per round — only loops
    with a driver-side convergence check (dedup_components) need
    eager.
    Output: final centroids with the member counts of the assignment
    that produced them.

    At 100 TB: per iteration the corpus is scanned once, the shuffle
    carries k×D partial sums per task, and the centroids stay a
    broadcast — Lloyd's is embarrassingly scalable when written this
    way (MLlib's KMeans does exactly this under the hood; this is the
    DataFrame-native statement with an engine-independent oracle).

    Determinism: seeded init, (dist, cid) total-ordered argmin, and
    4-dp rounding only at the output; assignment flips would need two
    centroids equidistant to ~1e-13 relative — vanishing for
    continuous embeddings.
    """
    ev = (
        t_fanout(spark, sf_dir, "embeddings", heavy=False)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .persist()
    )
    cent = ev.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    # In-row argmin over the broadcast centroid ARRAY: struct(dist,
    # cid) compares lexicographically, so array_min is exactly the
    # (dist, cid)-ordered argmin the oracle's row_number states.
    best = F.expr(
        f"array_min(transform(cents, s -> struct({_sq_dist('v', 's.c')} AS dist, s.cid AS cid)))"
    )
    assign = None
    for _ in range(_KM_ITERS):
        cent_arr = cent.agg(
            F.expr("sort_array(collect_list(struct(cid, c)))").alias("cents")
        )
        assigned = (
            ev.crossJoin(F.broadcast(cent_arr))
            .select("vec_id", best.getField("cid").alias("cid"), "v")
        )
        assign = assigned.select("vec_id", "cid")
        members = assigned.select(
            "cid", F.posexplode("v").alias("pos0", "val")
        )
        cent = (
            members.groupBy("cid", (F.col("pos0") + 1).alias("pos"))
            .agg(F.avg("val").alias("mv"))
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, mv))), s -> s.mv)"
                ).alias("c")
            )
            .localCheckpoint(eager=False)
        )
    sizes = assign.groupBy("cid").agg(F.count("*").alias("n"))
    return sizes.join(cent, "cid").select(
        "cid",
        "n",
        F.round(F.element_at("c", 1), 4).alias("c_head"),
        F.round(F.expr(_sq_norm("c")), 4).alias("c_sq"),
    )


_PI_ITERS = 4


def _power_iter_oracle() -> str:
    ctes = [
        _GRAM_CTES_DUCK,
        "v0 AS (SELECT unnest(generate_series(1, 64)) AS j, 0.125 AS val)",
    ]
    for k in range(_PI_ITERS):
        ctes.append(
            f"w{k} AS (SELECT g.i AS j, sum(g.gv * v{k}.val) AS val"
            f" FROM g JOIN v{k} ON g.j = v{k}.j GROUP BY 1)"
        )
        ctes.append(f"n{k} AS (SELECT sqrt(sum(val * val)) AS nrm FROM w{k})")
        ctes.append(
            f"v{k + 1} AS (SELECT j, val / nrm AS val FROM w{k} CROSS JOIN n{k})"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT v.j AS pos, round(v.val, 4) AS comp,
           round((SELECT nrm FROM n{_PI_ITERS - 1}), 4) AS lambda_est
    FROM v{_PI_ITERS} v
    """
    )


@register("embed_power_iteration", oracle=_power_iter_oracle())
def embed_power_iteration(spark, sf_dir):
    """Top principal direction of the embedding corpus by POWER
    ITERATION on the Gram matrix — PCA's first component without MLlib:
    v ← G·v / ‖G·v‖, 4 rounds from a uniform deterministic start, with
    the dominant-eigenvalue estimate ‖G·v‖ carried alongside.

    The 100 TB shape this key exists to demonstrate: the corpus is
    touched EXACTLY ONCE, to build the D×D Gram sufficient statistic
    (in-row outer products, map-side-combined groupBy — the
    embed_gram_matrix plan, UNROUNDED here); every subsequent
    iteration is a join+groupBy over 4096-row relations — free at any
    corpus size.  Iterating against raw data (the naive X·(Xᵀv)
    formulation) would rescan 100 TB per round.

    Iteration shape (r16): once the Gram exists it is a D×D = 4096-row
    CONSTANT — the old form still ran every round as a G⋈v equi-join +
    a groupBy(row) + a 1-row norm aggregate + a broadcast (≈6 Spark
    jobs per round of sub-millisecond arithmetic, ~24 driver
    round-trips per run at any corpus size).  Now the Gram collapses
    ONCE into a single array-of-rows cell (sorted i-major, j-ascending
    — the embed_pq trick) and every iteration is pure in-row
    expression arithmetic on a 1-row DataFrame: matvec = per-row
    zip_with/aggregate fold in ascending j, norm = fold in ascending
    i, normalize = transform.  A lazy localCheckpoint per iteration
    stops CollapseProject from inlining one iteration's expressions
    into the next (the bpe_apply codegen lesson); the checkpoints add
    NO jobs — the 1-row frame has no exchanges after the collapse.
    Whole run: the corpus scan + Gram shuffle + one 2-stage collapse,
    then everything folds into the final job (guide §1.2: the
    distributed algorithm first — don't shuffle a constant 4 times).

    Sign and order are deterministic: fixed v0, and both engines
    state the identical fixpoint prefix; the in-row folds sum in
    ascending index order (MORE deterministic than the old shuffle
    merge order) and the 4-dp round absorbs 1e-12 summation-order
    skew (re-verified at every shipped SF + shuffle-partition sweep).
    """
    # the Gram aggregation itself is untouched (FP-sensitive: feeds 4
    # unrounded iterations — see the r15 note declining numpy here)
    cells = _gram_cells(spark, sf_dir)
    g = cells.groupBy(F.col("c.i").alias("i"), F.col("c.j").alias("j")).agg(
        F.sum("c.p").alias("gv")
    )
    gmat = (
        g.groupBy("i")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(j, gv))), s -> s.gv)").alias(
                "garr"
            )
        )
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, garr))), s -> s.garr)"
            ).alias("gm")
        )
    )
    df = gmat.select(
        "gm", F.expr("transform(sequence(1, 64), x -> cast(0.125 as double))").alias("v")
    )
    for _ in range(_PI_ITERS):
        df = (
            df.select(
                "gm",
                F.expr(
                    "transform(gm, r -> aggregate(zip_with(r, v, (gx, vx) -> gx * vx), "
                    "cast(0.0 as double), (a, z) -> a + z))"
                ).alias("w"),
            )
            .select(
                "gm",
                "w",
                F.sqrt(F.expr(_sq_norm("w"))).alias("nrm"),
            )
            .select("gm", F.expr("transform(w, x -> x / nrm)").alias("v"), "nrm")
            .localCheckpoint(eager=False)
        )
    return df.select(
        F.posexplode("v").alias("pos0", "comp"), "nrm"
    ).select(
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.round("comp", 4).alias("comp"),
        F.round("nrm", 4).alias("lambda_est"),
    )


@register(
    "text_sentence_split",
    oracle=r"""
    WITH sents AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[.!?]+\s+'),
                         s -> trim(s) <> '') AS ss
      FROM documents
    )
    SELECT doc_id,
           len(ss) AS n_sentences,
           round(list_sum(list_transform(ss,
                 s -> len(list_filter(string_split(s, ' '), w -> w <> ''))))
                 * 1.0 / len(ss), 4) AS avg_words,
           list_max(list_transform(ss,
                 s -> len(list_filter(string_split(s, ' '), w -> w <> ''))))
             AS max_words,
           md5(ss[1]) AS first_sent_md5
    FROM sents WHERE len(ss) > 0
    """,
)
def text_sentence_split(spark, sf_dir):
    """Sentence segmentation + per-document sentence statistics — the
    preprocessing step before sentence-level dedup, quality gating
    ("average sentence length < 3 words" is a Gopher cut) and
    sentence-window embedding.

    Split on terminal-punctuation runs followed by whitespace — a
    pattern WITHOUT lookbehind, because the oracle runs on RE2
    (DuckDB) which rejects lookbehind while Spark's Java regex accepts
    it; a cross-engine text pipeline must stay in the common regex
    subset.  Everything is IN-ROW array work (split, per-sentence word
    counts, fold, md5 of the first sentence) — zero shuffles, fused
    into the scan at any corpus size.  avg = exact-int sum / count,
    single double division (bitwise-equal), 4-dp round.
    """
    sents = t_fanout(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            r"filter(split(text, '[.!?]+\\s+'), s -> trim(s) != '')"
        ).alias("ss"),
    )
    wc = "transform(ss, s -> size(filter(split(s, ' '), w -> w != '')))"
    return sents.filter(F.size("ss") > 0).select(
        "doc_id",
        F.size("ss").alias("n_sentences"),
        F.round(
            F.expr(f"aggregate({wc}, 0, (a, x) -> a + x)")
            * F.lit(1.0)
            / F.size("ss"),
            4,
        ).alias("avg_words"),
        F.expr(f"array_max({wc})").alias("max_words"),
        F.md5(F.element_at("ss", 1)).alias("first_sent_md5"),
    )


@register(
    "feature_loo_encoding",
    oracle="""
    WITH lab AS (
      SELECT vec_id, label,
             CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    stats AS (
      SELECT label, sum(y) AS sy, count(*) AS n FROM lab GROUP BY label
    )
    SELECT l.vec_id, l.label, l.y,
           round(CASE WHEN s.n > 1
                      THEN (s.sy - l.y) * 1.0 / (s.n - 1)
                      ELSE 0.5 END, 6) AS loo_mean
    FROM lab l JOIN stats s ON s.label = l.label
    """,
)
def feature_loo_encoding(spark, sf_dir):
    """Leave-one-out target encoding — the categorical-feature
    workhorse of tabular ML: each row's category is replaced by the
    mean target of OTHER rows in the category, so the encoding never
    leaks the row's own label (plain mean encoding does, and the model
    memorizes it).  Singleton categories fall back to the 0.5 prior.

    The LOO identity (Σy − yᵢ)/(n−1) turns "a different mean per row"
    into ONE map-side-combined aggregate per category joined back —
    never a per-row window over the fact table, and the category
    stats relation joins UNHINTED (at 100 TB a high-cardinality
    categorical outgrows broadcast; AQE demotes while small).  All
    sums are exact integers; one double division both engines.

    This is also the standard Spark rewrite for SQL's frame EXCLUDE
    CURRENT ROW, which Spark windows lack.
    """
    e = t_fanout(spark, sf_dir, "embeddings")
    lab = e.select(
        "vec_id",
        "label",
        F.when(F.col("vec_id") % 3 == 0, 1).otherwise(0).alias("y"),
    )
    stats = lab.groupBy(F.col("label").alias("s_label")).agg(
        F.sum("y").alias("sy"), F.count("*").alias("n")
    )
    loo = F.when(
        F.col("n") > 1,
        (F.col("sy") - F.col("y")) * F.lit(1.0) / (F.col("n") - 1),
    ).otherwise(0.5)
    return lab.join(stats, F.col("s_label") == F.col("label")).select(
        "vec_id", "label", "y", F.round(loo, 6).alias("loo_mean")
    )


@register(
    "sim_mips",
    oracle=_EV_PROBES_DUCK
    + """,
    pairs AS (
      SELECT p.probe_id, e.vec_id,
             list_sum(list_transform(generate_series(1, 64),
                                     j -> p.pv[j] * e.v[j])) AS ip
      FROM ev e CROSS JOIN probes p WHERE e.vec_id <> p.probe_id
    )
    SELECT probe_id, vec_id, round(ip, 4) AS ip, rn FROM (
      SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY ip DESC, vec_id) AS rn
      FROM pairs
    ) WHERE rn <= 10
    """,
)
def sim_mips(spark, sf_dir):
    """Top-10 by MAXIMUM INNER PRODUCT via the norm-augmentation
    reduction (Bachrach et al. / the xbox trick): corpus vectors gain
    the dimension √(M²−‖x‖²) (M = max corpus norm, a 1-row broadcast),
    probes gain 0 — augmented vectors all have norm M, so COSINE order
    in the augmented space equals inner-product order in the original.
    This is how MIPS (recommendation scoring, un-normalized retrieval)
    reuses any cosine-ANN index.

    The Spark side RUNS the reduction (augment → rank by augmented
    cosine); the oracle ranks by the raw inner product directly —
    hash-matching ranks PROVE the reduction is order-preserving (IEEE
    division by the positive constant M·‖p‖ is monotonic, ties broken
    by vec_id both sides).  Reported `ip` is the raw inner product,
    4-dp.  Scale: same broadcast-probe × linear-scan shape as sim_knn;
    the augmentation is one in-row concat, M is a 1-row aggregate.
    """
    from pyspark.sql import Window

    ev = t_fanout(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    with_norm = ev.withColumn("sqnorm", F.expr(_sq_norm("v")))
    mx = with_norm.agg(F.max("sqnorm").alias("m2"))
    aug = with_norm.crossJoin(F.broadcast(mx)).select(
        "vec_id",
        F.expr("concat(v, array(sqrt(m2 - sqnorm)))").alias("av"),
    )
    probes = ev.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"),
        F.expr("concat(v, array(cast(0.0 AS double)))").alias("pv"),
    )
    pairs = (
        aug.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.expr(_dot("av", "pv")).alias("aug_ip"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("aug_ip").desc(), "vec_id")
    ranked = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)
    # report the RAW inner product (recompute in-row for the 50
    # surviving pairs via a join back to the original vectors)
    pv_raw = ev.select(F.col("vec_id").alias("p_id"), F.col("v").alias("pv0"))
    return (
        ranked.join(ev, "vec_id")
        .join(pv_raw, F.col("p_id") == F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(F.expr(_dot("v", "pv0")), 4).alias("ip"),
            "rn",
        )
    )


@register(
    "text_kn_smoothing",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKS_DUCK} AS tk FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(tk) - 1),
                                   i -> tk[i])) AS w1,
             unnest(list_transform(generate_series(1, len(tk) - 1),
                                   i -> tk[i+1])) AS w2
      FROM toks WHERE len(tk) >= 2
    ),
    c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(n2) AS n1, count(*) AS follow_types FROM c2 GROUP BY 1),
    ctx AS (SELECT w2, count(*) AS left_types FROM c2 GROUP BY 1),
    tot AS (SELECT count(*) AS n_bigram_types FROM c2)
    SELECT b.doc_id, count(*) AS n_bigrams,
           round(pow(2.0, -sum(log2(
               greatest(n2 - 0.75, 0.0) / n1
               + (0.75 * follow_types / n1)
                 * (left_types * 1.0 / n_bigram_types)
           )) / count(*)), 4) AS ppl_kn
    FROM bg b
    JOIN c2 USING (w1, w2)
    JOIN c1 USING (w1)
    JOIN ctx USING (w2)
    CROSS JOIN tot
    GROUP BY b.doc_id
    """,
)
def text_kn_smoothing(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity — the production LM
    smoothing (what KenLM builds for CCNet-style quality filtering),
    one rung above text_bigram_ppl's add-k: absolute discount D=0.75
    on observed bigrams, with the stolen mass λ(w₁) = D·N₁₊(w₁·)/c(w₁)
    backed off to the CONTINUATION unigram P_cont(w₂) =
    N₁₊(·w₂)/N₁₊(··) — "how many contexts does w₂ complete", the
    insight that makes 'Francisco' rare as a continuation despite
    being frequent as a token.

    All model relations are exact-integer count aggregates over the
    bigram-TYPE relation (c2): follow-type and left-context-type
    counts are groupBys of c2, not rescans of the corpus.  The probe
    joins (bigram → c2 → c1 → ctx) stay UNHINTED — a 100 TB bigram
    vocabulary outgrows broadcast; AQE demotes while small.  The
    1-row type total is an explicit broadcast.  Probabilities are
    exact rationals evaluated identically; 4-dp round on ppl.
    """
    toks = (
        t_fanout(spark, sf_dir, "documents")
        .select("doc_id", F.expr(TOKS_SPARK).alias("tk"))
        .persist()
    )
    bg = (
        toks.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(arrays_zip(slice(tk, 1, size(tk) - 1), "
                    "slice(tk, 2, size(tk) - 1)), "
                    "z -> struct(z.`0` AS w1, z.`1` AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
        .persist()
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n2")).persist()
    c1 = c2.groupBy("w1").agg(
        F.sum("n2").alias("n1"), F.count("*").alias("follow_types")
    )
    ctx = c2.groupBy("w2").agg(F.count("*").alias("left_types"))
    tot = c2.agg(F.count("*").alias("n_bigram_types"))
    p_kn = F.greatest(F.col("n2") - 0.75, F.lit(0.0)) / F.col("n1") + (
        0.75 * F.col("follow_types") / F.col("n1")
    ) * (F.col("left_types") * F.lit(1.0) / F.col("n_bigram_types"))
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(ctx, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.pow(F.lit(2.0), -F.sum(F.log2(p_kn)) / F.count("*")), 4
            ).alias("ppl_kn"),
        )
    )


_KC_K = 6


def _kcenter_oracle() -> str:
    d = _sq_dist_duck("e.v", "c.v")
    ctes = [
        _EV_DUCK,
        "c0 AS (SELECT vec_id, v FROM ev WHERE vec_id = 0)",
        f"m0 AS (SELECT e.vec_id, {d} AS dd"
        " FROM ev e CROSS JOIN c0 c)",
    ]
    for k in range(1, _KC_K):
        ctes.append(
            f"p{k} AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER "
            f"(ORDER BY dd DESC, vec_id) rn FROM m{k - 1}) WHERE rn = 1)"
        )
        ctes.append(f"c{k} AS (SELECT e.vec_id, e.v FROM ev e JOIN p{k} USING (vec_id))")
        ctes.append(
            f"m{k} AS (SELECT m.vec_id, least(m.dd, {d}) AS dd"
            f" FROM m{k - 1} m JOIN ev e USING (vec_id) CROSS JOIN c{k} c)"
        )
    sel = " UNION ALL ".join(
        ["SELECT 0 AS round, vec_id FROM c0"]
        + [f"SELECT {k} AS round, vec_id FROM p{k}" for k in range(1, _KC_K)]
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    , centers AS ({sel})
    SELECT c.round, c.vec_id,
           round((SELECT max(dd) FROM m{_KC_K - 1}), 4) AS final_radius_sq
    FROM centers c
    """
    )


@register("sample_kcenter", oracle=_kcenter_oracle())
def sample_kcenter(spark, sf_dir):
    """Greedy k-center (farthest-point-first) coreset selection — the
    DIVERSITY sampler: each round picks the point farthest from every
    center chosen so far, giving a 2-approximation of the optimal
    covering radius.  This is the geometric dual of the frequency-
    driven samplers (mixture/stratified pick what's COMMON; k-center
    picks what's UNCOVERED) — the data-pruning / active-learning
    "select diverse exemplars" step.

    Per round: the min-distance-to-centers relation updates with ONE
    in-row least() against the newest center (a 1-row broadcast — the
    incremental identity min(d, d_new) avoids re-scanning all chosen
    centers), and the next center is a 1-ROW max_by AGGREGATE with a
    packed (dd, −vec_id) tiebreak — never a global sort (at 100 TB
    row_number over an unpartitioned window funnels the corpus into
    one task; max_by is the scalable argmax, and the oracle's
    row_number states the same total order).  LAZY localCheckpoint per
    round (pagerank discipline; fixed-count loop, no driver action —
    see ml_kmeans_lloyd).  Distances fold in ascending dim
    order both engines → bitwise-equal doubles; ties broken by id.
    Output: the 6 chosen centers + the final covering radius (a 1-row
    aggregate crossJoined back).
    """
    ev = (
        t_fanout(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .persist()
    )
    dist = _sq_dist("v", "cv")
    c = ev.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv")
    )
    m = (
        ev.crossJoin(F.broadcast(c))
        .select("vec_id", "v", F.expr(dist).alias("dd"))
        .localCheckpoint(eager=False)
    )
    picks = [c.select(F.lit(0).alias("round"), F.col("c_id").alias("vec_id"))]
    for k in range(1, _KC_K):
        p = m.agg(
            F.max_by(
                "vec_id", F.struct(F.col("dd"), -F.col("vec_id"))
            ).alias("vec_id")
        )
        c = ev.join(F.broadcast(p), "vec_id").select(
            F.col("vec_id").alias("c_id"), F.col("v").alias("cv")
        )
        picks.append(c.select(F.lit(k).alias("round"), F.col("c_id").alias("vec_id")))
        m = (
            m.crossJoin(F.broadcast(c))
            .select(
                "vec_id",
                "v",
                F.least(F.col("dd"), F.expr(dist)).alias("dd"),
            )
            .localCheckpoint(eager=False)
        )
    radius = m.agg(F.round(F.max("dd"), 4).alias("final_radius_sq"))
    centers = picks[0]
    for pk in picks[1:]:
        centers = centers.union(pk)
    return centers.crossJoin(F.broadcast(radius))


@register(
    "text_readability",
    oracle=rf"""
    WITH m AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '[.!?]+\s+'),
                             x -> trim(x) <> '')) AS n_sent,
             len({TOKS_DUCK}) AS n_words,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
      FROM documents
    )
    SELECT doc_id, n_sent, n_words, n_syll,
           round(0.39 * (n_words / CAST(n_sent AS DOUBLE))
                 + 11.8 * (n_syll / CAST(n_words AS DOUBLE)) - 15.59, 4)
             AS fk_grade
    FROM m WHERE n_sent > 0 AND n_words > 0
    """,
)
def text_readability(spark, sf_dir):
    """Flesch-Kincaid grade level per document — the readability
    quality signal (used alongside Gopher rules to drop both
    word-salad AND legalese): 0.39·(words/sentence) +
    11.8·(syllables/word) − 15.59, with syllables approximated by
    VOWEL-GROUP runs ([aeiouy]+ — the standard cheap estimator; runs
    can't cross spaces, so one whole-text regexp_extract_all equals
    the per-word sum without exploding anything).

    Sentence counting shares text_sentence_split's RE2-safe
    terminal-punctuation pattern (the common-regex-subset
    discipline).  All three counts are exact integers computed
    IN-ROW; the grade is one identical double expression — zero
    shuffles, fused into the scan at any corpus size.
    """
    m = t_fanout(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.expr(r"filter(split(text, '[.!?]+\\s+'), x -> trim(x) != '')")
        ).alias("n_sent"),
        F.size(F.expr(TOKS_SPARK)).alias("n_words"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).alias(
            "n_syll"
        ),
    )
    grade = (
        0.39 * (F.col("n_words") / F.col("n_sent").cast("double"))
        + 11.8 * (F.col("n_syll") / F.col("n_words").cast("double"))
        - 15.59
    )
    return m.filter((F.col("n_sent") > 0) & (F.col("n_words") > 0)).select(
        "doc_id",
        "n_sent",
        "n_words",
        "n_syll",
        F.round(grade, 4).alias("fk_grade"),
    )


@register(
    "sim_matryoshka_eval",
    oracle=_EV_PROBES_DUCK
    + """,
    pairs AS (
      SELECT p.probe_id, e.vec_id,
             list_sum(list_transform(generate_series(1, 64),
                                     j -> p.pv[j] * e.v[j])) AS ip_full,
             list_sum(list_transform(generate_series(1, 16),
                                     j -> p.pv[j] * e.v[j])) AS ip_16
      FROM ev e CROSS JOIN probes p WHERE e.vec_id <> p.probe_id
    ),
    full_top AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id, row_number() OVER (
          PARTITION BY probe_id ORDER BY ip_full DESC, vec_id) AS rn
        FROM pairs) WHERE rn <= 10
    ),
    pre_top AS (
      SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id, row_number() OVER (
          PARTITION BY probe_id ORDER BY ip_16 DESC, vec_id) AS rn
        FROM pairs) WHERE rn <= 10
    )
    SELECT f.probe_id,
           cast(count(p.vec_id) AS bigint) AS n_overlap,
           round(count(p.vec_id) / 10.0, 2) AS recall_at_10
    FROM full_top f
    LEFT JOIN pre_top p ON p.probe_id = f.probe_id AND p.vec_id = f.vec_id
    GROUP BY f.probe_id
    """,
)
def sim_matryoshka_eval(spark, sf_dir):
    """Matryoshka / prefix-dimension retrieval evaluation: how much of
    the full-64-dim top-10 does a 16-dim PREFIX ranking recover
    (recall@10)?  This is the measurement behind truncatable-embedding
    deployment (MRL-style): serve the cheap prefix index, and this
    number tells you what quality you traded — the eval every
    dimension-reduction rollout runs before flipping the flag.

    ONE scan computes both scores (the prefix dot product is a
    sub-fold of the same zip — no second pass over the corpus), two
    per-probe top-10 ranks share the broadcast-probe × linear-scan
    spine of sim_knn, and recall is an exact-integer overlap count via
    a LEFT join of the two 50-row rankings.  At 100 TB the rankings
    would use the size-gated two-phase prune (sim_knn's _knn_pairs);
    the eval join stays |probes|·k rows regardless.
    """
    from pyspark.sql import Window

    ev = t_fanout(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    probes = ev.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    pairs = (
        ev.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.expr(_dot("v", "pv")).alias("ip_full"),
            F.expr(_dot("slice(v, 1, 16)", "slice(pv, 1, 16)")).alias("ip_16"),
        )
    )
    wf = Window.partitionBy("probe_id").orderBy(F.col("ip_full").desc(), "vec_id")
    wp = Window.partitionBy("probe_id").orderBy(F.col("ip_16").desc(), "vec_id")
    full_top = (
        pairs.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= 10)
        .select("probe_id", "vec_id")
    )
    pre_top = (
        pairs.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 10)
        .select(F.col("probe_id").alias("pp"), F.col("vec_id").alias("pv_id"))
    )
    return (
        full_top.join(
            pre_top,
            (F.col("pp") == F.col("probe_id")) & (F.col("pv_id") == F.col("vec_id")),
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.count("pv_id").cast("bigint").alias("n_overlap"),
            F.round(F.count("pv_id") / 10.0, 2).alias("recall_at_10"),
        )
    )


@register(
    "pipeline_quality_ensemble",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKS_DUCK} AS tk, text FROM documents),"""
    + r"""
    base AS (
      SELECT doc_id, text, tk, len(tk) AS n_words,
             1.0 - len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE) AS dup_frac,
             len(list_filter(string_split_regex(text, '[.!?]+\s+'),
                             x -> trim(x) <> '')) AS n_sent,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
      FROM toks WHERE len(tk) > 0
    ),"""
    + _BIGRAM_LM_DUCK
    + """,
    scored AS (
      SELECT b.doc_id, b.n_words, b.dup_frac,
             CASE WHEN b.n_sent > 0
                  THEN 0.39 * (b.n_words / CAST(b.n_sent AS DOUBLE))
                       + 11.8 * (b.n_syll / CAST(b.n_words AS DOUBLE)) - 15.59
             END AS fk_grade,
             p.ppl
      FROM base b LEFT JOIN bgppl p ON p.doc_id = b.doc_id
    )
    SELECT doc_id,
           (CASE WHEN n_words BETWEEN 10 AND 5000 THEN 0 ELSE 1 END
            + CASE WHEN dup_frac <= 0.3 THEN 0 ELSE 2 END
            + CASE WHEN fk_grade IS NOT NULL AND fk_grade BETWEEN 2 AND 16
                   THEN 0 ELSE 4 END
            + CASE WHEN ppl IS NOT NULL AND ppl <= 35 THEN 0 ELSE 8 END)
             AS reject_flags,
           CASE WHEN n_words BETWEEN 10 AND 5000 AND dup_frac <= 0.3
                 AND fk_grade IS NOT NULL AND fk_grade BETWEEN 2 AND 16
                 AND ppl IS NOT NULL AND ppl <= 35
                THEN 1 ELSE 0 END AS keep,
           n_words,
           round(dup_frac, 4) AS dup_frac,
           round(fk_grade, 4) AS fk_grade,
           round(ppl, 4) AS ppl
    FROM scored
    """,
)
def pipeline_quality_ensemble(spark, sf_dir):
    """The round-6 composition flagship: a FOUR-SIGNAL document
    quality gate — length band, duplicate-word fraction (Gopher),
    Flesch-Kincaid readability band, and bigram-LM perplexity ceiling
    — fused into ONE verdict with a reject-reason BITMASK (flags 1/2/
    4/8), because a production filter must report WHY it dropped each
    document (corpus post-mortems die without reason attribution).

    What the composition proves Spark-side: three of the signals are
    pure in-row projections that Catalyst fuses into the single corpus
    scan; only the perplexity leg adds relations (the text_bigram_ppl
    model joins, unhinted), LEFT-joined so sub-2-token docs flow
    through with the ppl flag raised rather than vanishing — a gate
    must be TOTAL over its input.  Absolute thresholds (not
    percentiles) keep the verdict row-local and deterministic; every
    signal reuses the exact formula of its standalone key
    (text_repetition_ratio / text_readability / text_bigram_ppl), so
    the ensemble can't drift from the parts.
    """
    toks = (
        t_fanout(spark, sf_dir, "documents")
        .select("doc_id", "text", F.expr(TOKS_SPARK).alias("tk"))
        .persist()
    )
    base = toks.filter(F.size("tk") > 0).select(
        "doc_id",
        "text",
        "tk",
        F.size("tk").alias("n_words"),
        (
            1.0
            - F.size(F.array_distinct("tk")) / F.size("tk").cast("double")
        ).alias("dup_frac"),
        F.size(
            F.expr(r"filter(split(text, '[.!?]+\\s+'), x -> trim(x) != '')")
        ).alias("n_sent"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).alias(
            "n_syll"
        ),
    )
    probe, ppl_agg = _bigram_lm(toks)
    ppl = probe.groupBy(F.col("doc_id").alias("p_doc")).agg(ppl_agg.alias("ppl"))
    fk = F.when(
        F.col("n_sent") > 0,
        0.39 * (F.col("n_words") / F.col("n_sent").cast("double"))
        + 11.8 * (F.col("n_syll") / F.col("n_words").cast("double"))
        - 15.59,
    )
    scored = (
        base.join(ppl, F.col("p_doc") == F.col("doc_id"), "left")
        .withColumn("fk_grade", fk)
    )
    f_len = F.col("n_words").between(10, 5000)
    f_dup = F.col("dup_frac") <= 0.3
    f_fk = F.col("fk_grade").isNotNull() & F.col("fk_grade").between(2, 16)
    f_ppl = F.col("ppl").isNotNull() & (F.col("ppl") <= 35)
    return scored.select(
        "doc_id",
        (
            F.when(f_len, 0).otherwise(1)
            + F.when(f_dup, 0).otherwise(2)
            + F.when(f_fk, 0).otherwise(4)
            + F.when(f_ppl, 0).otherwise(8)
        ).alias("reject_flags"),
        F.when(f_len & f_dup & f_fk & f_ppl, 1).otherwise(0).alias("keep"),
        "n_words",
        F.round("dup_frac", 4).alias("dup_frac"),
        F.round("fk_grade", 4).alias("fk_grade"),
        F.round("ppl", 4).alias("ppl"),
    )


@register(
    "text_novelty",
    oracle=_SH_CTE_DUCK
    + """
    , df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
    SELECT s.doc_id,
           cast(count(*) AS bigint) AS n_shingles,
           cast(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS bigint)
             AS n_unique,
           round(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS novelty
    FROM sh s JOIN df d ON d.shingle = s.shingle
    GROUP BY s.doc_id
    """,
)
def text_novelty(spark, sf_dir):
    """Per-document NOVELTY: the fraction of a document's 3-gram
    shingles that appear NOWHERE else in the corpus (df = 1) — the
    inverse lens on the dedup family's machinery: dedup asks "how much
    of this is copied", novelty asks "how much of this exists only
    here".  Low-novelty documents are boilerplate/templates even when
    no single pair crosses a dedup threshold; high-novelty slices are
    what curriculum and data-mixing strategies up-weight.

    Reuses the dedup_jaccard shingle spine: one tokenize+explode pass
    feeds a map-side-combined document-frequency aggregate, joined
    back UNHINTED (a 100 TB shingle vocabulary outgrows broadcast;
    AQE demotes while small).  Counts are exact integers; one double
    division.
    """
    sh = _shingle_index(spark, sf_dir)
    df = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    uniq = F.when(F.col("df") == 1, 1).otherwise(0)
    return (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(uniq).cast("bigint").alias("n_unique"),
            F.round(F.sum(uniq) / F.count("*").cast("double"), 4).alias(
                "novelty"
            ),
        )
    )


@register(
    "shuffle_shards",
    oracle="""
    WITH ns AS (
      SELECT greatest(16, cast(ceil(count(*) / 100000.0) AS bigint)) AS nshards
      FROM documents
    ),
    keyed AS (
      SELECT doc_id,
             cast(concat('0x', substr(md5(concat('shard#', cast(doc_id AS varchar))), 1, 15)) AS bigint) % ns.nshards AS shard,
             md5(concat('order#', cast(doc_id AS varchar))) AS okey
      FROM documents CROSS JOIN ns
    )
    SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id) AS pos
    FROM keyed
    """,
)
def shuffle_shards(spark, sf_dir):
    """Deterministic global training shuffle + shard assignment — the
    step between curation and the dataloader.  A trainer needs the
    corpus (a) randomly ordered (no source/time clumping), (b) split
    into fixed shards for parallel readers, (c) REPRODUCIBLY: the same
    seed must yield byte-identical shard files on any engine, any
    partitioning, any day — which `df.orderBy(rand())` can never give.

    Two independent keyed hashes do it: md5('shard#'||id) picks the
    shard, md5('order#'||id) orders WITHIN the shard — independent
    keys so shard assignment doesn't correlate with intra-shard
    position.  `pos` is the explicit within-shard index a sequential
    reader would see.

    Spark shape: one hash-keyed exchange (partition by shard) + a
    per-shard sort — exactly the write path of
    `repartition(shard).sortWithinPartitions(okey)`, whose file order
    IS this row_number; the window form materializes the position so
    the contract is value-checkable cross-engine.  Scale: the shard
    COUNT tracks the corpus — nshards = max(16, ⌈n/100k⌉) from a
    broadcast 1-row count, so one shard stays ≈ one task's worth of
    rows (100 TB ⇒ ~10⁶ shards) instead of 16 fixed window partitions
    each sorting 1/16th of the corpus; every shipped corpus
    (n ≤ 1.6M ⇒ 16 shards) shards identically to the historical
    constant.  The md5 keys are uniform so no shard skews.
    """
    d = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    ndf = d.agg(
        F.greatest(F.lit(16), F.ceil(F.count(F.lit(1)) / 100000.0))
        .cast("bigint")
        .alias("nshards")
    )
    keyed = d.crossJoin(F.broadcast(ndf)).select(
        "doc_id",
        hash_bucket("shard#", mod=F.col("nshards")).alias("shard"),
        F.md5(F.concat(F.lit("order#"), F.col("doc_id").cast("string"))).alias("okey"),
    )
    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


@register(
    "text_boilerplate",
    oracle=_CHUNKS_DUCK
    + """,
    df AS (SELECT source, chunk, count(DISTINCT doc_id) AS ndocs
           FROM c GROUP BY 1, 2),
    j AS (SELECT c.doc_id, c.chunk_no, c.chunk, (df.ndocs >= 3) AS boiler
          FROM c JOIN df ON c.source = df.source AND c.chunk = df.chunk)
    SELECT doc_id,
           count(*) AS n_chunks,
           cast(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS bigint) AS n_boiler,
           round(sum(CASE WHEN boiler THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             AS boiler_ratio,
           md5(coalesce(string_agg(chunk, ' ' ORDER BY chunk_no)
                          FILTER (WHERE NOT boiler), '')) AS clean_md5
    FROM j GROUP BY doc_id
    """,
)
def text_boilerplate(spark, sf_dir):
    """Per-source boilerplate strip (CCNet/RefinedWeb line-dedup pass):
    a 5-word chunk that appears in >= 3 DISTINCT documents of the same
    source is boilerplate (nav bars, footers, license headers) and is
    removed from EVERY document — unlike dedup_chunks, which keeps the
    first occurrence, boilerplate has no "first": all instances go.

    Scale shape: chunk document-frequency is ONE content-addressed
    groupBy(source, chunk) with countDistinct(doc_id) — uniform keys,
    map-side partial.  The df relation joins back on the same
    (source, chunk) key (AQE broadcasts it when the boilerplate set is
    small — it always is relative to the corpus), then one doc_id
    shuffle reassembles survivors in order.  Emitting md5(clean) keeps
    the verification row narrow; counts + ratio are the curation
    metrics a pipeline thresholds on.
    """
    # persisted: the chunk relation feeds both the df aggregate and the
    # join-back — without it the chunking explode runs twice.
    c = _chunks(spark, sf_dir, "source").persist()
    df = c.groupBy("source", "chunk").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    j = c.join(df, ["source", "chunk"]).withColumn(
        "boiler", F.col("ndocs") >= 3
    )
    kept_struct = F.when(~F.col("boiler"), F.struct("chunk_no", "chunk"))
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("boiler"), 1).otherwise(0)).alias("n_boiler"),
            F.round(
                F.sum(F.when(F.col("boiler"), 1).otherwise(0)) / F.count("*"), 4
            ).alias("boiler_ratio"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)), lambda x: x.chunk
                    ),
                    " ",
                )
            ).alias("clean_md5"),
        )
    )


@register(
    "feature_onehot",
    oracle="""
    SELECT o_custkey,
           cast(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS bigint) AS pri_urgent,
           cast(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS bigint) AS pri_high,
           cast(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS bigint) AS pri_medium,
           cast(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS bigint) AS pri_notspec,
           cast(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS bigint) AS pri_low,
           cast(sum(CASE WHEN o_orderpriority NOT IN
                 ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                 THEN 1 ELSE 0 END) AS bigint) AS pri_other
    FROM orders GROUP BY o_custkey
    """,
)
def feature_onehot(spark, sf_dir):
    """One-hot / count encoding of a categorical over an entity — the
    feature-store staple (per-customer order-priority profile).  The
    vocabulary is FIXED in the query (plus an explicit OTHER bucket):
    deriving columns from a runtime distinct is the dynamic-pivot
    anti-pattern (driver-side scan; schema depends on data — see
    agg_pivot), and the OTHER bucket is what makes the fixed list safe
    under drift.

    Spark shape: one groupBy(entity) with 6 conditional sums — a
    single map-side-combined aggregate pass, identical cost to ONE
    count, however many categories.  At 100 TB the encoded table is
    |entities| rows — the downstream join input for model features.
    """
    o = t(spark, sf_dir, "orders")
    cats = [
        ("pri_urgent", "1-URGENT"),
        ("pri_high", "2-HIGH"),
        ("pri_medium", "3-MEDIUM"),
        ("pri_notspec", "4-NOT SPECIFIED"),
        ("pri_low", "5-LOW"),
    ]
    known = [v for _, v in cats]
    aggs = [
        F.sum(F.when(F.col("o_orderpriority") == v, 1).otherwise(0)).alias(n)
        for n, v in cats
    ] + [
        F.sum(F.when(~F.col("o_orderpriority").isin(known), 1).otherwise(0)).alias(
            "pri_other"
        )
    ]
    return o.groupBy("o_custkey").agg(*aggs)


@register(
    "feature_hashing",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    h AS (
      SELECT doc_id,
             cast(cast(concat('0x', substr(md5(word), 1, 15)) AS bigint) % 64 AS int)
               AS feat
      FROM w WHERE word <> ''
    )
    SELECT doc_id, feat, count(*) AS n
    FROM h GROUP BY 1, 2
    """,
)
def feature_hashing(spark, sf_dir):
    """Hashing-trick vectorizer (feature hashing): tokens hash into a
    FIXED 64-bucket feature space — the unbounded-vocabulary answer
    when a fitted vocabulary (text_tfidf's join) is impossible or
    unwanted: no training pass, no vocab table to ship, new words land
    deterministically.

    md5-keyed bucketing (not Spark's murmur hashCode) keeps the
    feature ids engine-independent — the same property that makes
    sample_split reproducible makes this feature space portable
    across the training stack.  Spark shape: explode → ONE
    groupBy(doc, feat) with map-side combine; output bounded by
    |docs| × 64, independent of vocabulary size.  Sparse (doc, feat,
    n) triples ARE the storage format at scale — a dense 64-wide
    pivot is a trivial downstream projection.
    """
    d = t_fanout(spark, sf_dir, "documents", heavy=False)
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    feat = (
        F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("bigint") % 64
    ).cast("int")
    return (
        w.select("doc_id", feat.alias("feat"))
        .groupBy("doc_id", "feat")
        .agg(F.count("*").alias("n"))
    )


@register(
    "ml_ndcg",
    oracle=_KNN_ORACLE_CTE
    + """
    , topk AS (SELECT probe_id, vec_id, label, rn FROM ranked WHERE rn <= 10),
    pl AS (SELECT vec_id AS probe_id, label AS probe_label
           FROM embeddings WHERE vec_id < 5),
    rel AS (
      SELECT t.probe_id, t.rn,
             CASE WHEN t.label = pl.probe_label THEN 1 ELSE 0 END AS rel
      FROM topk t JOIN pl ON pl.probe_id = t.probe_id
    ),
    dcg AS (
      SELECT probe_id, sum(rel / log2(rn + 1)) AS dcg,
             cast(sum(rel) AS bigint) AS n_rel
      FROM rel GROUP BY 1
    ),
    ideal AS (
      SELECT probe_id, rel,
             row_number() OVER (PARTITION BY probe_id ORDER BY rel DESC, rn) AS irn
      FROM rel
    ),
    idcg AS (SELECT probe_id, sum(rel / log2(irn + 1)) AS idcg FROM ideal GROUP BY 1)
    SELECT d.probe_id,
           round(CASE WHEN i.idcg = 0 THEN 0 ELSE d.dcg / i.idcg END, 6) AS ndcg10,
           d.n_rel
    FROM dcg d JOIN idcg i ON d.probe_id = i.probe_id
    """,
)
def ml_ndcg(spark, sf_dir):
    """NDCG@10 retrieval eval over the sim_knn spine — the
    POSITION-AWARE quality metric sim_matryoshka_eval's flat recall
    can't give: a relevant hit at rank 1 is worth log-factor more than
    at rank 10 (DCG = Σ rel/log₂(rank+1)), normalized by the ideal
    reordering of the SAME retrieved relevances (the standard local
    IDCG, zero-guarded identically in both engines when a probe
    retrieves nothing relevant).

    Relevance = label match against the probe's own label — binary
    graded, exact-integer, so the only float work is the log₂ weights
    (bit-stable libm inputs 2..11) and one rounded division.  Scale:
    rides _knn_pairs' size-gated two-phase top-k; the eval itself
    touches |probes|·k rows.
    """
    from pyspark.sql import Window

    pairs = _knn_pairs(spark, sf_dir)
    probe_labels = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("pl_id"), F.col("label").alias("probe_label"))
    )
    rel = pairs.join(
        F.broadcast(probe_labels), F.col("probe_id") == F.col("pl_id")
    ).select(
        "probe_id",
        "rn",
        F.when(F.col("label") == F.col("probe_label"), 1).otherwise(0).alias("rel"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("rel").desc(), "rn")
    ideal = rel.withColumn("irn", F.row_number().over(w))
    dcg = ideal.groupBy("probe_id").agg(
        F.sum(F.col("rel") / F.log2(F.col("rn") + 1)).alias("dcg"),
        F.sum(F.col("rel") / F.log2(F.col("irn") + 1)).alias("idcg"),
        F.sum("rel").alias("n_rel"),
    )
    return dcg.select(
        "probe_id",
        F.round(
            F.when(F.col("idcg") == 0, F.lit(0.0)).otherwise(
                F.col("dcg") / F.col("idcg")
            ),
            6,
        ).alias("ndcg10"),
        "n_rel",
    )


@register(
    "privacy_k_anonymity",
    oracle="""
    WITH qi AS (
      SELECT doc_id, lang, source,
             cast(floor(n_chars / 100) AS bigint) AS len_blk
      FROM documents
    ),
    classes AS (
      SELECT lang, source, len_blk, count(*) AS n
      FROM qi GROUP BY 1, 2, 3
    )
    SELECT lang, source, len_blk, n,
           (n < 5) AS at_risk
    FROM classes
    """,
)
def privacy_k_anonymity(spark, sf_dir):
    """k-anonymity audit over quasi-identifiers — the privacy gate a
    training corpus runs before release: every (lang, source,
    length-bucket) equivalence class with fewer than k=5 members is a
    re-identification risk (those documents are distinguishable by
    their quasi-identifiers alone) and must be suppressed or
    generalized before the data ships.

    The audit is ONE map-side-combined groupBy over the generalized
    QI tuple — the generalization (bucketing n_chars to centuries) is
    part of the operator, because k-anonymity is only meaningful over
    GENERALIZED attributes (raw lengths would make every doc its own
    class).  Output is the full class table with the at-risk flag:
    |classes| rows, the input to a suppression join (LeftAnti on
    at_risk classes — the dedup_incremental shape).  At 100 TB: one
    scan, one shuffle of |classes| partial counts.
    """
    qi = t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100).cast("bigint").alias("len_blk"),
    )
    return (
        qi.groupBy("lang", "source", "len_blk")
        .agg(F.count("*").alias("n"))
        .withColumn("at_risk", F.col("n") < 5)
    )


@register(
    "profile_key_skew",
    oracle="""
    WITH per_key AS (
      SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS nt, count(*) AS nkeys,
                   max(n) AS nmax FROM per_key)
    SELECT key, n,
           round(n * 1.0 / nt, 6) AS share,
           round(n * nkeys * 1.0 / nt, 4) AS skew_factor
    FROM per_key, tot
    ORDER BY n DESC, key LIMIT 20
    """,
)
def profile_key_skew(spark, sf_dir):
    """Join-key skew diagnosis — the report you run BEFORE choosing a
    shuffle strategy at 100 TB: the top-20 heaviest keys with their
    row share and skew factor (count ÷ mean-per-key).  A skew factor
    of ~1 everywhere → plain shuffle join; a handful of keys at 100×
    → salt exactly those (join_salted) or lean on AQE's skew split;
    one key holding half the table → rethink the key.

    Shape: per-key counts in one map-side-combined aggregate, the
    1-row totals crossed back (broadcast), top-20 as
    TakeOrderedAndProject with a (n, key) total order — the
    diagnostic costs one scan regardless of key cardinality, and the
    heavy-hitter list is exactly what a salting config consumes.
    """
    per_key = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count("*").alias("n"))
    )
    tot = per_key.agg(
        F.sum("n").alias("nt"), F.count("*").alias("nkeys"), F.max("n").alias("nmax")
    )
    return (
        per_key.join(F.broadcast(tot))
        .select(
            "key",
            "n",
            F.round(F.col("n") * 1.0 / F.col("nt"), 6).alias("share"),
            F.round(F.col("n") * F.col("nkeys") * 1.0 / F.col("nt"), 4).alias(
                "skew_factor"
            ),
        )
        .orderBy(F.col("n").desc(), "key")
        .limit(20)
    )


@register(
    "sample_balanced",
    oracle="""
    WITH sized AS (
      SELECT label, count(*) AS n FROM embeddings GROUP BY 1
    ),
    target AS (SELECT min(n) AS n_min FROM sized),
    ranked AS (
      SELECT vec_id, label,
             row_number() OVER (
               PARTITION BY label
               ORDER BY md5(concat('bal#', cast(vec_id AS varchar))), vec_id
             ) AS rn
      FROM embeddings
    )
    SELECT label, count(*) AS n_kept,
           cast(min(vec_id) AS bigint) AS min_id,
           cast(max(vec_id) AS bigint) AS max_id
    FROM ranked, target WHERE rn <= n_min
    GROUP BY label
    """,
)
def sample_balanced(spark, sf_dir):
    """Class-balanced downsampling — equalize every class to the
    minority class size, the classification-training counterpart of
    sample_stratified's fixed quotas: the quota here is DERIVED from
    the data (min class count), not configured.

    Determinism via the keyed-md5 order (hash_bucket's salt idiom):
    within each class, rows rank by md5('bal#'||id) — the same rows
    survive on any engine/partitioning, unlike sample()'s
    partition-dependent draw.  Shape: per-class counts (one agg) →
    1-row min broadcast → per-class rank window (partitioned by
    label, NOT global) → filter; verification rolls up per class.
    At 100 TB the window partitions by class — parallel across
    classes, and the md5 sort is the price of reproducibility.
    """
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")
    sized = e.groupBy("label").agg(F.count("*").alias("n"))
    target = sized.agg(F.min("n").alias("n_min"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.concat(F.lit("bal#"), F.col("vec_id").cast("string"))), "vec_id"
    )
    ranked = e.select("vec_id", "label", F.row_number().over(w).alias("rn"))
    return (
        ranked.join(F.broadcast(target))
        .filter(F.col("rn") <= F.col("n_min"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_kept"),
            F.min("vec_id").cast("bigint").alias("min_id"),
            F.max("vec_id").cast("bigint").alias("max_id"),
        )
    )


@register(
    "privacy_l_diversity",
    oracle="""
    WITH qi AS (
      SELECT lang, cast(floor(n_chars / 200) AS bigint) AS len_blk,
             source
      FROM documents
    ),
    classes AS (
      SELECT lang, len_blk,
             count(*) AS n,
             cast(count(DISTINCT source) AS bigint) AS l_div
      FROM qi GROUP BY 1, 2
    )
    SELECT lang, len_blk, n, l_div, (l_div < 3) AS at_risk
    FROM classes
    """,
)
def privacy_l_diversity(spark, sf_dir):
    """l-diversity audit — k-anonymity's stronger sibling: a class can
    be large (k-anonymous) yet still leak if every member shares the
    SAME sensitive value (homogeneity attack).  Here the
    quasi-identifiers are (lang, length-bucket) and the sensitive
    attribute is the document's source: a class whose members all come
    from fewer than l=3 distinct sources reveals its members' origin.

    One groupBy over the generalized QI with count + countDistinct —
    Spark plans the distinct as a two-phase expand/aggregate, still
    map-side combined on the (QI, source) pair first, so the shuffle
    carries distinct pairs, not rows.  Pairs with privacy_k_anonymity
    to form the release gate; both outputs feed the same suppression
    anti-join.
    """
    qi = t(spark, sf_dir, "documents").select(
        "lang",
        F.floor(F.col("n_chars") / 200).cast("bigint").alias("len_blk"),
        "source",
    )
    return (
        qi.groupBy("lang", "len_blk")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("source").alias("l_div"),
        )
        .withColumn("at_risk", F.col("l_div") < 3)
    )


@register(
    "pipeline_release_gate",
    oracle="""
    WITH ka AS (
      SELECT lang, source, cast(floor(n_chars / 100) AS bigint) AS lb100,
             count(*) AS kn
      FROM documents GROUP BY 1, 2, 3
    ),
    ld AS (
      SELECT lang, cast(floor(n_chars / 200) AS bigint) AS lb200,
             cast(count(DISTINCT source) AS bigint) AS ldiv
      FROM documents GROUP BY 1, 2
    )
    SELECT d.doc_id,
           (CASE WHEN ka.kn < 5 THEN 1 ELSE 0 END
            + CASE WHEN ld.ldiv < 3 THEN 2 ELSE 0 END
            + CASE WHEN d.text LIKE '%customer%' THEN 4 ELSE 0 END)
             AS reject_flags,
           CASE WHEN ka.kn >= 5 AND ld.ldiv >= 3
                 AND d.text NOT LIKE '%customer%'
                THEN 1 ELSE 0 END AS keep,
           ka.kn AS k_class_size, ld.ldiv AS l_diversity
    FROM documents d
    JOIN ka ON ka.lang = d.lang AND ka.source = d.source
           AND ka.lb100 = cast(floor(d.n_chars / 100) AS bigint)
    JOIN ld ON ld.lang = d.lang
           AND ld.lb200 = cast(floor(d.n_chars / 200) AS bigint)
    """,
)
def pipeline_release_gate(spark, sf_dir):
    """Privacy release gate — the composition the privacy audits
    exist FOR: every document carries a reject-reason bitmask
    (1 = its k-anonymity class is under-populated, 2 = its
    l-diversity class is source-homogeneous, 4 = blocklisted term
    present) and a keep verdict; the at-risk rows are exactly what a
    suppression pass drops before the corpus ships.

    Shape (the pipeline_quality_ensemble pattern applied to
    governance): the two class tables are aggregates over the SAME
    scan — |classes|-row relations that join back on their
    generalized QI keys (AQE broadcasts them; the corpus shuffles at
    most once per audit key), the blocklist test is a codegen LIKE.
    All signals computed in one pass over the fact table + two
    class-table joins — rule count doesn't multiply scans.
    """
    d = t(spark, sf_dir, "documents")
    lb100 = F.floor(F.col("n_chars") / 100).cast("bigint")
    lb200 = F.floor(F.col("n_chars") / 200).cast("bigint")
    # Both class tables aggregate the SAME 4-col QI projection —
    # persisted so the fact scan behind them runs once, not twice
    # (r15 audit; base keeps its own scan: it needs text, which the
    # cache deliberately excludes).
    qi = d.select(
        "lang", "source", lb100.alias("lb100"), lb200.alias("lb200")
    ).persist()
    ka = qi.groupBy("lang", "source", "lb100").agg(F.count("*").alias("kn"))
    ld = qi.groupBy("lang", "lb200").agg(F.countDistinct("source").alias("ldiv"))
    base = d.select(
        "doc_id", "lang", "source", "text",
        lb100.alias("lb100"), lb200.alias("lb200"),
    )
    j = base.join(ka, ["lang", "source", "lb100"]).join(ld, ["lang", "lb200"])
    blocked = F.col("text").contains("customer")
    flags = (
        F.when(F.col("kn") < 5, 1).otherwise(0)
        + F.when(F.col("ldiv") < 3, 2).otherwise(0)
        + F.when(blocked, 4).otherwise(0)
    )
    return j.select(
        "doc_id",
        flags.alias("reject_flags"),
        F.when((F.col("kn") >= 5) & (F.col("ldiv") >= 3) & ~blocked, 1)
        .otherwise(0)
        .alias("keep"),
        F.col("kn").alias("k_class_size"),
        F.col("ldiv").alias("l_diversity"),
    )


@register(
    "privacy_dp_counts",
    oracle="""
    WITH counts AS (
      SELECT lang, source, count(*) AS n
      FROM documents
      GROUP BY 1, 2
    ),
    noised AS (
      SELECT lang, source, n,
             (cast(concat('0x', substr(md5(concat(lang, '|', source, '|dp-v1')), 1, 15))
                   AS bigint) / 1152921504606846976.0) - 0.5 AS u
      FROM counts
    )
    SELECT lang, source,
           greatest(0, n + cast(round(
             -2.0 * sign(u) * ln(1.0 - 2.0 * abs(u))
           ) AS bigint)) AS released_n
    FROM noised
    """,
)
def privacy_dp_counts(spark, sf_dir):
    """Differentially-private released counts (Laplace mechanism,
    ε=0.5, sensitivity 1): per-(lang, source) document counts with
    calibrated Laplace noise added BEFORE release, clamped at 0 —
    the aggregate-publication gate for corpus statistics.

    The noise is SEEDED: uniform u ∈ (-0.5, 0.5) derives from
    md5(group key + release version), pushed through the Laplace
    inverse CDF  -b·sign(u)·ln(1-2|u|)  with b = 1/ε = 2.  Seeding
    makes the release REPRODUCIBLE per version (republishing the same
    release never spends extra privacy budget and diffs empty), while
    a new version string draws fresh noise — exactly how production
    DP release pipelines manage determinism.  Noise is integer-rounded
    then clamped (post-processing, DP-safe).

    Scale: one map-side-combined count per group; the noise is a pure
    per-GROUP projection over the tiny counts relation — zero extra
    shuffles, no RNG state to coordinate across 1000 executors (the
    hash IS the shared randomness).
    """
    counts = (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n"))
    )
    u = (
        F.expr(
            "cast(conv(substring(md5(concat(lang, '|', source, '|dp-v1')), 1, 15), 16, 10) AS bigint)"
        )
        / F.lit(1152921504606846976.0)
        - F.lit(0.5)
    )
    noise = F.round(
        F.lit(-2.0) * F.signum(u) * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u))
    ).cast("bigint")
    return counts.select(
        "lang",
        "source",
        F.greatest(F.lit(0), F.col("n") + noise).alias("released_n"),
    )


@register(
    "embed_pq",
    oracle=_EMB_UNNEST_CTE
    + """
    , sub AS (
        SELECT vec_id, cast(floor((pos - 1) / 16) AS int) AS m, pos, v FROM e
    ),
    anch AS (
        SELECT vec_id AS code, m, pos, v FROM sub WHERE vec_id < 8
    ),
    d2 AS (
        SELECT s.vec_id, s.m, a.code,
               round(sum((s.v - a.v) * (s.v - a.v)), 6) AS d2
        FROM sub s JOIN anch a ON a.m = s.m AND a.pos = s.pos
        GROUP BY 1, 2, 3
    ),
    codes AS (
        SELECT vec_id, m, code FROM (
            SELECT vec_id, m, code,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2, code) AS rn
            FROM d2
        ) WHERE rn = 1
    ),
    pd AS (
        SELECT a.m, a.code,
               round(sum((p.v - a.v) * (p.v - a.v)), 6) AS pd2
        FROM anch a
        JOIN sub p ON p.vec_id = 42 AND p.m = a.m AND p.pos = a.pos
        GROUP BY 1, 2
    ),
    adc AS (
        SELECT c.vec_id, round(sum(pd.pd2), 4) AS adc_dist
        FROM codes c JOIN pd ON pd.m = c.m AND pd.code = c.code
        WHERE c.vec_id <> 42
        GROUP BY 1
    )
    SELECT vec_id, adc_dist
    FROM adc
    ORDER BY adc_dist, vec_id
    LIMIT 10
    """,
)
def embed_pq(spark, sf_dir):
    """Product Quantization ANN (M=4 subspaces × 16 dims, K=8 codes)
    with Asymmetric Distance Computation — the memory-side of
    billion-scale vector search: each 64-float vector compresses to 4
    byte-codes, and a query scans CODES (plus a 32-entry distance
    table) instead of floats.

    Codebook = the 8 lowest-id vectors' sub-vectors per subspace
    (deterministic anchor quantization; production would Lloyd-refine
    per subspace — ml_kmeans_lloyd is that loop).  ENCODE: per
    (vector, subspace) argmin squared-L2 over the broadcast 32-row
    codebook, map-side-combined partial sums, ties broken by code id
    on 6-dp-rounded distances so the argmin is engine-exact.  QUERY:
    the probe's distance TABLE (M×K=32 rows) is broadcast; approx
    distance = sum of 4 lookups per vector — one tiny-key join + one
    groupBy(vec_id), then top-10 as TakeOrderedAndProject.

    Scale: the corpus is touched twice (encode once — amortized
    across all queries; ADC scan per query over the 4-int code
    relation, ~64× smaller than the float corpus).  No all-pairs
    stage anywhere; both joins are broadcast-small.
    """
    emb = t_fanout(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # r15: the codebook is CONSTANT-SIZE (M·K·D floats) and the probe
    # is one row, so both encode and ADC fold IN-ROW over broadcast
    # 1-row relations — the prior shape posexploded the corpus 64x,
    # broadcast-joined the anchor cells (8x amplification -> ~2M
    # intermediate rows), shuffled two aggregations and ran a window
    # for the argmin: five plan phases for what is per-row arithmetic
    # against constants.  Per (vector, subspace), distances to the 8
    # codes are the same round(sum of 16 squared diffs, 6) values
    # (zip_with over the pos-ascending slice — the exact order the
    # exploded partial agg consumed), the argmin ties break by code
    # via struct array_min (d2 asc, code asc — row_number's order),
    # and ADC sums the probe's precomputed per-(m, code) distances
    # over the 4 chosen codes.  One corpus scan, zero explode, zero
    # aggregation exchanges: encode cost is now O(n·M·K·16) codegen
    # arithmetic, and only the top-10 TakeOrderedAndProject remains.
    anchors = emb.filter(F.col("vec_id") < 8).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("vec_id").alias("code"), F.col("e").alias("a")))
        ).alias("anchors")
    )
    probe = emb.filter(F.col("vec_id") == 42).select(F.col("e").alias("p"))
    sub_d2 = (
        "round(aggregate(zip_with(slice({v}, m * 16 + 1, 16), "
        "slice(an.a, m * 16 + 1, 16), (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (s, z) -> s + z), 6)"
    )
    per_m_pd = F.expr(
        "transform(sequence(0, 3), m -> "
        "array_min(transform(anchors, an -> struct("
        + sub_d2.format(v="e")
        + " as d2, an.code as code, "
        + sub_d2.format(v="p")
        + " as pd))).pd)"
    )
    return (
        emb.filter(F.col("vec_id") != 42)
        .crossJoin(F.broadcast(anchors))
        .crossJoin(F.broadcast(probe))
        .select("vec_id", per_m_pd.alias("pds"))
        .select(
            "vec_id",
            F.round(
                F.expr("aggregate(pds, cast(0.0 as double), (acc, x) -> acc + x)"), 4
            ).alias("adc_dist"),
        )
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


@register(
    "dedup_semantic_cluster",
    oracle=_EMB_UNNEST_CTE
    + """
    , ks AS (
        SELECT k, cast(ceil(k / ceil(sqrt(k))) AS bigint) AS stride
        FROM (SELECT greatest(8, cast(ceil(count(*) / 250.0) AS bigint)) AS k
              FROM embeddings)
    ),
    tc0 AS (
        SELECT vec_id AS cid, pos, v FROM e CROSS JOIN ks WHERE vec_id < ks.k
    ),"""
    + _ivf_assign_ctes("tc0")
    + """,
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
            FROM fdots
        ) WHERE rn = 1
    ),
    salted AS (
        SELECT vec_id, cid,
               (row_number() OVER (PARTITION BY cid ORDER BY vec_id) - 1) // 250
                 AS salt
        FROM assign
    ),
    clustered AS (
        SELECT a.vec_id, a.cid, a.salt, e.pos, e.v
        FROM e JOIN salted a ON a.vec_id = e.vec_id
    ),
    pair_sims AS (
        SELECT x.vec_id AS keep_id, y.vec_id AS drop_id,
               round(sum(x.v * y.v), 4) AS cos_sim
        FROM clustered x
        JOIN clustered y ON y.cid = x.cid AND y.salt = x.salt
                         AND y.pos = x.pos AND x.vec_id < y.vec_id
        GROUP BY 1, 2
    ),
    dropped AS (
        SELECT DISTINCT drop_id FROM pair_sims WHERE cos_sim >= 0.3
    )
    SELECT a.vec_id, a.cid
    FROM assign a
    WHERE a.vec_id NOT IN (SELECT drop_id FROM dropped)
    """,
)
def dedup_semantic_cluster(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al.):
    cluster the embedding space first, then drop any vector with a
    LOWER-id neighbor at cosine ≥ τ=0.3 *within its own cluster* —
    near-duplicate semantics pruned without any cross-cluster pair
    ever materializing.

    Two stages, both bucketed.  (1) ASSIGN is HIERARCHICAL: the anchor
    codebook has k = max(8, ⌈n/250⌉) entries (capacity rule: k scales
    with n so |cluster| stays ~250 — with a FIXED k the prune
    self-join is n²/k, quadratic in disguise), but a flat
    nearest-of-k scan would itself cost n·k = n²/250, the SAME
    quadratic moved one stage earlier.  So vectors first pick the
    nearest of ⌈√k⌉ coarse REPRESENTATIVES (every stride-th anchor,
    stride = ⌈k/⌈√k⌉⌉ — pure id arithmetic, engine-mirrorable), then
    the nearest anchor WITHIN that representative's id-stride group
    (equi-join on group id, ≤ stride candidates per vector): n·2√k
    total dot products, and the construction extends to log-depth
    (b-ary anchor tree ⇒ n·b·log_b k) when k outgrows two levels —
    the IVF/faiss shape SemDeDup uses in production (anchors here are
    id-chosen; production uses trained k-means centroids from
    ml_kmeans_lloyd).  (2) PRUNE — self-join ON CLUSTER ID ONLY, so
    the pair space is Σ|cluster|² ≈ n·250, never n².  Both k and
    stride derive declaratively from a broadcast 1-row count (no
    driver collect).  Hierarchical assignment is the standard ANN
    approximation: a vector may land on a different (near-tied)
    anchor than the flat argmax would pick; the within-cluster prune
    semantics are unchanged.  Keep-lowest-id is a deterministic
    tiebreak (no iteration-order dependence), and both the coarse and
    fine argmaxes order by 4-dp-rounded dots with id tiebreaks, so
    assignment — and therefore the cut — is engine-exact.
    """
    # emb feeds FIVE consumers (kdf, cent, the coarse scan, and both
    # of assign's id-joins) — unpersisted, each re-ran the parquet
    # scan + t_fanout repartition (r15 audit: 7 embeddings scans in
    # one plan).  Unlike dedup_embed's self-join (where one AQE
    # exchange is shared and a persist measured slower), these
    # consumers join on DIFFERENT keys, so nothing is reused without
    # the cache.
    emb = (
        t_fanout(spark, sf_dir, "embeddings", heavy=False)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .persist()
    )
    kdf = (
        emb.agg(
            F.greatest(F.lit(8), F.ceil(F.count(F.lit(1)) / 250.0))
            .cast("bigint")
            .alias("kk")
        )
        .withColumn(
            "stride",
            F.ceil(F.col("kk") / F.ceil(F.sqrt(F.col("kk")))).cast("bigint"),
        )
    )
    # cent (k rows) feeds reps and the fine-assign join — persisted so
    # the kdf aggregate + codebook filter run once (r15).
    cent = (
        emb.crossJoin(F.broadcast(kdf))
        .filter(F.col("vec_id") < F.col("kk"))
        .select(
            F.col("vec_id").alias("cid"),
            F.expr("vec_id div stride").alias("g"),
            (F.col("vec_id") % F.col("stride")).alias("slot"),
            F.col("e").alias("ce"),
        )
        .persist()
    )
    coarse = _ivf_coarse(emb, cent)
    # fine level: unhinted so AQE broadcasts the anchor side only while
    # it is genuinely small
    assign = (
        _ivf_fine_dots(emb, coarse, cent.select("g", "cid", "ce"))
        .groupBy("vec_id")
        .agg(F.expr(f"max_by(cid, {_argkey('cid')})").alias("cid"))
        .join(emb, "vec_id")
        .select("vec_id", "cid", "e")
        # ENFORCE the capacity bound, don't just expect it: real (and
        # synthetic) corpora skew, and one mega-cluster turns Σ|c|²
        # quadratic again (measured on the rotation decade: max
        # cluster 4456 vs avg 250 ⇒ 8× the balanced pair count and a
        # 17×-per-decade prune).  Overflow clusters are split into
        # deterministic 250-row sub-buckets (row_number by vec_id
        # within the cluster — engine-exact, no hash involved), and
        # the prune compares within (cid, salt) only: pair space
        # ≤ n·250/2 REGARDLESS of skew.  Pairs split across
        # sub-buckets are the recall trade the capacity contract
        # already makes; at ≤250-row clusters salt = 0 everywhere and
        # the split is a no-op.
        .withColumn(
            "salt",
            F.expr(
                "(row_number() over (partition by cid order by vec_id) - 1) div 250"
            ),
        )
        .persist()
    )
    x = assign.alias("x")
    y = assign.alias("y")
    pair_cos = F.expr(_dot("x.e", "y.e"))
    dropped = (
        x.join(
            y,
            (F.col("x.cid") == F.col("y.cid"))
            & (F.col("x.salt") == F.col("y.salt"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("y.vec_id").alias("drop_id"), F.round(pair_cos, 4).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= 0.3)
        .select("drop_id")
        .distinct()
    )
    return (
        assign.join(
            dropped, assign.vec_id == dropped.drop_id, "left_anti"
        ).select("vec_id", "cid")
    )


@register(
    "privacy_erasure_cascade",
    oracle=f"""
    WITH keep AS (
      SELECT * FROM events WHERE user_id % 17 <> 3
    )
    SELECT event_type,
           {bucket_sql(86400)} AS day,
           cast(count(*) AS bigint) AS n,
           round(sum(value), 2) AS sum_value
    FROM keep
    GROUP BY 1, 2
    HAVING count(*) > 0
    """,
)
def privacy_erasure_cascade(spark, sf_dir):
    """GDPR erasure CASCADE into derived aggregates: when users
    request deletion (tombstones: user_id % 17 == 3 stands in for the
    request table), the standing daily MV is corrected by SUBTRACTING
    only the tombstoned users' partial aggregates — never recomputing
    from history.

    This is IVM's decrement half (mv_incremental adds deltas, this
    retracts them): count/sum are decomposable under subtraction, so
    MV_new = MV_old ⊖ rollup(deleted rows), with groups whose count
    hits 0 dropped (a fully-erased day must disappear, not linger as
    a 0-row).  The oracle recomputes the rollup from scratch WITHOUT
    the tombstoned users, so the hash match proves retraction ==
    recompute — the erasure-correctness invariant an auditor asks
    for.  At 100 TB: the deleted slice is scanned once (tombstone
    semi-join prunes it), the MV is |groups| rows; history stays
    cold.
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", bucket(86400).alias("day"), "value"
    )
    path = os.path.join(SCRATCH, "erasure_mv")
    daily_rollup(ev).write.mode("overwrite").parquet(path)
    mv = spark.read.parquet(path)  # the standing aggregate (full corpus)
    deleted = daily_rollup(ev.filter(F.col("user_id") % 17 == 3)).select(
        F.col("event_type").alias("d_type"),
        F.col("day").alias("d_day"),
        F.col("n").alias("dn"),
        F.col("sv").alias("dsv"),
    )
    return (
        mv.join(
            deleted,
            (F.col("event_type") == F.col("d_type")) & (F.col("day") == F.col("d_day")),
            "left",
        )
        .select(
            "event_type",
            "day",
            (F.col("n") - F.coalesce(F.col("dn"), F.lit(0))).cast("bigint").alias("n"),
            F.round(
                F.col("sv") - F.coalesce(F.col("dsv"), F.lit(0.0)), 2
            ).alias("sum_value"),
        )
        .filter(F.col("n") > 0)
    )


@register(
    "ml_naive_bayes",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({TOKS_DUCK}) AS w FROM documents
    ),
    model AS (
      SELECT lang, w, count(*) AS c FROM tok GROUP BY 1, 2
    ),
    totals AS (
      SELECT lang, sum(c) AS tot FROM model GROUP BY 1
    ),
    vocab AS (SELECT count(DISTINCT w) AS v FROM tok),
    priors AS (
      SELECT lang, ln(count(*) * 1.0 /
             (SELECT count(*) FROM documents)) AS prior
      FROM documents GROUP BY lang
    ),
    doc_tf AS (
      SELECT doc_id, lang AS true_lang, w, count(*) AS tf
      FROM tok GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT d.doc_id, d.true_lang, t.lang AS cand,
             p.prior + sum(d.tf * round(ln((coalesce(m.c, 0) + 1.0)
                                           / (t.tot + vb.v)), 6)) AS score
      FROM doc_tf d
      CROSS JOIN totals t
      CROSS JOIN vocab vb
      JOIN priors p ON p.lang = t.lang
      LEFT JOIN model m ON m.lang = t.lang AND m.w = d.w
      GROUP BY 1, 2, 3, p.prior
    ),
    pred AS (
      SELECT doc_id, true_lang, cand AS pred_lang FROM (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY round(score, 4) DESC, cand) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT true_lang, pred_lang, cast(count(*) AS bigint) AS n
    FROM pred GROUP BY 1, 2
    """,
)
def ml_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes language classifier — TRAINED and
    APPLIED in-engine: Laplace-smoothed log P(w|lang) from per-(lang,
    token) counts, per-doc argmax over Σ tf·logp + log prior; the
    output is the CONFUSION MATRIX (true × predicted counts), i.e.
    the model card's central table, computed where the data lives.

    Scale: the corpus is tokenized and EXPLODED exactly once — the
    (doc, lang, token) tf relation is the single heavy shuffle, and
    the model (per-(lang, token) counts), per-lang totals, and vocab
    size are all DERIVED from it by further aggregation of the
    already-collapsed relation, never by re-scanning the corpus.  The
    model is re-keyed per WORD as a lang→count map and joined back
    UNHINTED at 1× doc-term volume (AQE broadcasts a small model; a
    100 TB-corpus vocabulary stays a shuffle join, the text_tfidf
    discipline); the |langs| candidate fan-out happens IN-ROW after
    the join (r13 — the earlier shape crossJoined totals first and
    shuffled |langs|× the volume into the model join), never over
    vocab; unseen terms fall back to the smoothing floor via
    element_at + coalesce.  Determinism: logp rounded 6 dp at MODEL
    time and scores 4 dp before the argmax, ties broken by lang asc —
    the argmax is engine-exact (R1/R2).
    """
    docs = t_fanout(spark, sf_dir, "documents", heavy=False)
    tok = docs.select(
        "doc_id", "lang", F.explode(F.expr(TOKS_SPARK)).alias("w")
    )
    # The tf relation is PERSISTED: four consumers (scoring, model,
    # totals, vocab) would otherwise each re-run the corpus explode —
    # Spark does not share physical subtrees across DataFrame refs.
    doc_tf = (
        tok.groupBy("doc_id", F.col("lang").alias("true_lang"), "w")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    # model/totals/vocab roll up from doc_tf (sum of per-doc tf ==
    # token count) — one corpus explode feeds the whole pipeline.
    model = doc_tf.groupBy(
        F.col("true_lang").alias("m_lang"), F.col("w").alias("m_w")
    ).agg(F.sum("tf").alias("c")).persist()
    totals = model.groupBy(F.col("m_lang").alias("t_lang")).agg(
        F.sum("c").alias("tot")
    )
    vocab = model.agg(F.countDistinct("m_w").alias("v"))
    # corpus size enters the prior as a broadcast 1-row aggregate, not
    # a driver-side count() action (same double division bitwise:
    # bigint/bigint and bigint/double both promote to double).  The
    # total derives from the per-lang rollup (Σ per-lang counts == the
    # corpus count, exact bigint) instead of its own corpus scan — the
    # |langs|-row rollup is persisted so its two consumers (total,
    # priors) cost ONE documents pass, not two (r16: 3 → 2 corpus
    # scans for the whole key; the r16 rescan audit flagged the 3rd).
    nl_tab = (
        docs.groupBy(F.col("lang").alias("p_lang"))
        .agg(F.count("*").alias("nl"))
        .persist()
    )
    n_docs = nl_tab.agg(F.sum("nl").cast("double").alias("nd"))
    priors = nl_tab.crossJoin(F.broadcast(n_docs)).select(
        "p_lang", F.log(F.col("nl") / F.col("nd")).alias("prior")
    )
    # The model is re-keyed per WORD as a lang→count map, and the lang
    # axis (tot, prior per lang, sorted) is collapsed to a broadcast
    # ONE-ROW array (r13): doc_tf then joins the model ONCE at 1×
    # volume, and the |langs|× candidate fan-out happens IN-ROW after
    # the join — the r12 form crossJoined doc_tf with totals first, so
    # the model join shuffled 5×|doc_tf| rows.  Both joins are
    # word-keyed and the per-(doc, cand) partial sums combine
    # map-side, so the post-fan-out shuffle carries |docs|×|langs|
    # rows, not |doc-terms|×|langs|.
    model_w = model.groupBy(F.col("m_w").alias("w")).agg(
        F.map_from_entries(
            F.expr("sort_array(collect_list(struct(m_lang, c)))")
        ).alias("mc")
    )
    # persisted: TWO consumers (the in-row fan-out and the post-agg
    # lang/prior lookup) would otherwise each re-run the priors' full
    # corpus scan — 1 row, trivially cached.
    langs_arr = (
        totals.join(priors, F.col("p_lang") == F.col("t_lang"))
        .agg(
            F.expr(
                "sort_array(collect_list(struct(t_lang AS lang, tot, prior)))"
            ).alias("ls")
        )
        .crossJoin(vocab)
        .persist()
    )
    terms = (
        doc_tf.join(model_w, "w")
        .crossJoin(F.broadcast(langs_arr))
        .select(
            "doc_id",
            "true_lang",
            F.posexplode(
                F.expr(
                    "transform(ls, s -> tf * round(ln("
                    "(coalesce(element_at(mc, s.lang), 0L) + 1.0)"
                    " / (s.tot + v)), 6))"
                )
            ).alias("pos", "term"),
        )
    )
    lang_at = F.expr("element_at(ls, pos + 1)")
    scored = (
        terms.groupBy("doc_id", "true_lang", "pos")
        .agg(F.sum("term").alias("tsum"))
        .crossJoin(F.broadcast(langs_arr.select("ls")))
        .select(
            "doc_id",
            "true_lang",
            lang_at.getField("lang").alias("cand"),
            (lang_at.getField("prior") + F.col("tsum")).alias("score"),
        )
    )
    # Per-doc argmax as a map-side-combined hash aggregate instead of
    # a row_number window (r13): array_min over the collected
    # struct(-round(score, 4), cand, …) IS "highest score, ties by
    # lang asc" — double negation is exact and struct comparison is
    # lexicographic, so the selection is identical to the oracle's
    # ORDER BY score DESC, cand.  collect_list keeps the agg an
    # ObjectHashAggregate with partial combine (min_by over a struct
    # key would fall back to a SortAggregate), replacing the window's
    # full shuffle + per-doc sort of the |langs|×|docs| scored
    # relation; the per-group buffer is |langs| structs.
    pred = (
        scored.groupBy("doc_id")
        .agg(
            F.expr(
                "array_min(collect_list(struct("
                "-round(score, 4) AS ns, cand, true_lang)))"
            ).alias("p")
        )
        .select(
            F.col("p.true_lang").alias("true_lang"),
            F.col("p.cand").alias("pred_lang"),
        )
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n")
    )


@register(
    "text_bm25",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKS_DUCK}) AS w FROM documents
    ),
    dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    stats AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dlen),
    q AS (SELECT unnest(['stream', 'window', 'merge']) AS qw),
    df AS (
      SELECT w, count(DISTINCT doc_id) AS df
      FROM tok JOIN q ON qw = w GROUP BY 1
    ),
    tf AS (
      SELECT doc_id, w, count(*) AS tf
      FROM tok JOIN q ON qw = w GROUP BY 1, 2
    ),
    scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln((s.nd - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
             ), 4) AS bm25
      FROM tf
      JOIN df ON df.w = tf.w
      JOIN dlen d ON d.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def text_bm25(spark, sf_dir):
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a 3-term query —
    the lexical-search baseline every RAG/retrieval stack starts
    from, as one declarative plan: idf from per-term document
    frequencies, tf saturation, document-length normalization against
    the corpus average, top-10 as TakeOrderedAndProject.

    Scale shape: with a FIXED small query, BM25 needs no positional
    explode at all — per-doc term frequencies are array-kernel
    expressions (``size(filter(tokens, = w))``) and the doc length is
    ``size(tokens)``, so the whole query is ONE projection pass over
    the corpus plus a single 1-row corpus-stats aggregate (nd, avgdl,
    and per-term df, all map-side combined and broadcast back), then
    a per-row score and TakeOrderedAndProject.  Zero wide shuffles of
    token rows: at 100 TB this is a scan-and-score (the shape a
    search engine's impact-ordered scoring takes when the query is
    known), not a corpus-wide postings materialization.  idf uses the
    +1 variant (always positive, the Lucene choice), rounded 4 dp
    after the final sum (R1); docs containing no query term are
    excluded, matching the join semantics of the oracle.
    """
    from pyspark.sql import Window  # noqa: F401  (symmetry with siblings)

    QW = ["stream", "window", "merge"]

    def tf_of(term: str):
        # one-param lambda (two params would make pyspark bind the
        # array INDEX as the second argument)
        return F.size(F.filter(F.col("toks"), lambda x: x == F.lit(term)))

    # persisted: the (dl, tf*) projection is ~5 numbers per doc and
    # feeds both the corpus-stats aggregate and the scoring pass —
    # without it the tokenize kernels run twice.
    base = (
        t_fanout(spark, sf_dir, "documents")
        .select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("dl"),
            *[tf_of(w).alias(f"tf{i}") for i, w in enumerate(QW)],
        )
        .persist()
    )
    stats = base.agg(
        F.count("*").alias("nd"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"df{i}")
            for i in range(len(QW))
        ],
    )

    def contrib(i: int):
        # tf = 0 contributes exactly 0.0 (tf multiplies the numerator),
        # identical to the oracle's absent join row.
        idf = F.log(
            (F.col("nd") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
            + 1.0
        )
        norm = F.col(f"tf{i}") + 1.2 * (
            0.25 + 0.75 * F.col("dl") / F.col("avgdl")
        )
        return idf * F.col(f"tf{i}") * 2.2 / norm

    total_tf = sum(F.col(f"tf{i}") for i in range(len(QW)))
    score = sum(contrib(i) for i in range(len(QW)))
    return (
        base.crossJoin(F.broadcast(stats))
        .filter(total_tf > 0)
        .select("doc_id", F.round(score, 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


@register(
    "text_phrase_near",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             generate_subscripts({TOKS_DUCK}, 1) AS pos,
             unnest({TOKS_DUCK}) AS w
      FROM documents
    ),
    a AS (SELECT doc_id, pos FROM tok WHERE w = 'hash'),
    b AS (SELECT doc_id, pos FROM tok WHERE w = 'join')
    SELECT a.doc_id,
           cast(count(*) AS bigint) AS n_pairs,
           cast(min(abs(a.pos - b.pos)) AS bigint) AS min_dist
    FROM a JOIN b ON b.doc_id = a.doc_id
                 AND abs(a.pos - b.pos) <= 3
    GROUP BY a.doc_id
    """,
)
def text_phrase_near(spark, sf_dir):
    """Proximity search ("hash NEAR/3 join") over a POSITIONAL index —
    the phrase/near operator of full-text search: a document matches
    when the two terms occur within 3 token positions, ranked by
    occurrence count with the closest distance carried along.

    The positional index is posexplode(tokens) — (doc, term, pos)
    rows, the postings-with-positions layout.  Each term's postings
    are FILTERED before the join (term predicates prune the exploded
    stream at the source), then joined per-DOCUMENT with the position
    band as an in-join residual — the doc_id equi-key keeps it a hash
    join; the band |p1−p2| ≤ 3 never degenerates into a cross join
    because term postings within one doc are short (the classic
    positional-merge bound).  At 100 TB the index would be
    content-partitioned by term (dedup_jaccard's inverted-index
    shuffle); here both sides come from one scan and meet on doc_id.
    """
    tok = t_fanout(spark, sf_dir, "documents", heavy=False).select(
        "doc_id", F.posexplode(F.expr(TOKS_SPARK)).alias("pos0", "w")
    )
    # DuckDB's generate_subscripts is 1-based; keep positions identical
    a = tok.filter(F.col("w") == "hash").select(
        "doc_id", (F.col("pos0") + 1).alias("pa")
    )
    b = tok.filter(F.col("w") == "join").select(
        F.col("doc_id").alias("doc_b"), (F.col("pos0") + 1).alias("pb")
    )
    return (
        a.join(
            b,
            (F.col("doc_b") == F.col("doc_id"))
            & (F.abs(F.col("pa") - F.col("pb")) <= 3),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.min(F.abs(F.col("pa") - F.col("pb"))).cast("bigint").alias("min_dist"),
        )
    )


@register(
    "fn_uuid_name",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(concat('r2p:doc:', cast(doc_id AS varchar), ':', text)) AS hx
      FROM documents
    )
    SELECT doc_id,
           concat(
             substr(hx, 1, 8), '-', substr(hx, 9, 4), '-',
             '5', substr(hx, 14, 3), '-',
             lower(to_hex((cast(concat('0x', substr(hx, 17, 2)) AS bigint) & 63) | 128)),
             substr(hx, 19, 2), '-', substr(hx, 21, 12)
           ) AS doc_uuid
    FROM h
    """,
)
def fn_uuid_name(spark, sf_dir):
    """Deterministic NAME-BASED UUIDs (RFC-4122 v5 layout over md5):
    stable entity IDs minted from content — the identity primitive of
    every cross-pipeline join (the same doc always gets the same id,
    on any cluster, any partitioning, any day), unlike uuid()/
    monotonically_increasing_id() whose values are run-dependent and
    therefore banned from declared queries.

    Pure codegen projection: namespace-prefixed md5, version nibble
    forced to 5, variant bits forced to 10xx via `(byte & 63) | 128`
    — bit-level formatting both engines compute identically.  Zero
    shuffles at any scale.
    """
    h = t_fanout(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.concat(F.lit("r2p:doc:"), F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
        ).alias("hx"),
    )
    variant_byte = F.lower(
        F.hex(
            F.expr("cast(conv(substring(hx, 17, 2), 16, 10) AS bigint)").bitwiseAND(63)
            .bitwiseOR(128)
        )
    )
    return h.select(
        "doc_id",
        F.concat(
            F.substring("hx", 1, 8), F.lit("-"),
            F.substring("hx", 9, 4), F.lit("-"),
            F.lit("5"), F.substring("hx", 14, 3), F.lit("-"),
            variant_byte,
            F.substring("hx", 19, 2), F.lit("-"),
            F.substring("hx", 21, 12),
        ).alias("doc_uuid"),
    )


@register(
    "pipeline_rag_index",
    oracle=f"""
    WITH gated AS (
      SELECT doc_id, text, lang, source, n_chars,
             len({TOKS_DUCK}) AS n_tokens
      FROM documents
      WHERE n_chars BETWEEN 50 AND 2000
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ),
    joined AS (
      SELECT d.doc_id, d.lang, d.source, d.n_tokens,
             (e.vec_id IS NOT NULL) AS has_embedding
      FROM deduped d
      LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    )
    SELECT source, lang,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_tokens) AS bigint) AS n_tokens,
           cast(sum(CASE WHEN has_embedding THEN 1 ELSE 0 END) AS bigint)
             AS n_with_embedding
    FROM joined
    GROUP BY source, lang
    """,
)
def pipeline_rag_index(spark, sf_dir):
    """RAG corpus-build capstone: length gate → exact dedup (keep
    lowest doc_id per content hash) → embedding-coverage join →
    per-(source, lang) index manifest — the end-to-end shape of
    preparing a retrieval corpus, composed from the same spines the
    single-operator keys prove (gate = pushed filter, dedup =
    content-hash window, coverage = key-partitioned LEFT join against
    the vector table).

    Shuffle budget 3 at any scale: the md5 dedup shuffle
    (content-addressed, uniform), the doc_id⋈vec_id coverage join
    (both sides key-partitioned; at 100 TB this is the lakehouse
    join between the text table and its vector index), and the final
    manifest aggregate (map-side combined, |sources×langs| rows).
    The manifest is what a serving layer actually loads: per-slice
    doc/token/vector counts, the freshness+coverage contract of the
    index.
    """
    from pyspark.sql import Window

    docs = t_fanout(spark, sf_dir, "documents", heavy=False).filter(
        F.col("n_chars").between(50, 2000)
    )
    gated = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(F.expr(TOKS_SPARK)).alias("n_tokens"),
        F.md5("text").alias("content_key"),
    )
    w_dd = Window.partitionBy("content_key").orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w_dd))
        .filter(F.col("rn") == 1)
        .drop("rn", "content_key")
    )
    vecs = t(spark, sf_dir, "embeddings").select("vec_id")
    return (
        deduped.join(vecs, deduped.doc_id == vecs.vec_id, "left")
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("vec_id").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_with_embedding"),
        )
    )


from raster2points_spark.registry import REGISTRY as _REG


def _pair_recall(truth, approx):
    """(n_true, n_found, recall) of the approximate pair relation
    ``approx`` against ``truth``: both hold the same two keys, under
    other names in ``approx``.  ``truth`` is persisted: the semi-join
    probe and the n_true count both read it, and it is a tiny pair
    relation whose exhaustive plan would otherwise run twice (r15)."""
    truth = truth.persist()
    (a, b), (x, y) = truth.columns, approx.columns
    found = truth.join(approx, (F.col(x) == F.col(a)) & (F.col(y) == F.col(b)), "left_semi")
    n_true = truth.agg(F.count("*").cast("bigint").alias("n_true"))
    return (
        found.agg(F.count("*").cast("bigint").alias("n_found"))
        .crossJoin(F.broadcast(n_true))
        .select(
            "n_true",
            "n_found",
            F.round(F.col("n_found") / F.col("n_true"), 4).alias("recall"),
        )
    )


def _pair_recall_oracle(truth_sql: str, approx_sql: str, a: str, b: str) -> str:
    """DuckDB twin of _pair_recall over two member oracles' (a, b) pairs."""
    return f"""
    WITH truth AS (
      SELECT {a}, {b} FROM ({truth_sql})
    ),
    approx AS (
      SELECT {a}, {b} FROM ({approx_sql})
    )
    SELECT (SELECT cast(count(*) AS bigint) FROM truth) AS n_true,
           cast(count(*) AS bigint) AS n_found,
           round(count(*) * 1.0 / (SELECT count(*) FROM truth), 4) AS recall
    FROM truth t
    WHERE EXISTS (
      SELECT 1 FROM approx l WHERE l.{a} = t.{a} AND l.{b} = t.{b}
    )
"""


# Both recall oracles compose the member oracles verbatim, so the
# metric is itself oracle-checked (any drift in either member's SQL
# twin shows here too).
@register(
    "dedup_near_recall",
    oracle=_pair_recall_oracle(
        _REG["dedup_jaccard"].oracle, _REG["dedup_near"].oracle, "doc_a", "doc_b"
    ),
)
def dedup_near_recall(spark, sf_dir):
    """LSH QUALITY made a first-class query: recall of the banded
    MinHash candidate pipeline (dedup_near) against the exhaustive
    inverted-index truth (dedup_jaccard) at the same τ — the
    accuracy/cost trade of the sub-quadratic path measured IN-ENGINE,
    where a data engineer can re-run it on their own corpus slice
    before trusting LSH for a 100 TB dedup.

    Composes the two REGISTERED queries verbatim (same plans the
    individual keys prove) and joins their pair sets: n_true,
    n_found, recall.  Scale: both members are already
    bucketed/blocked; the final join is pair-key equi over two tiny
    pair relations.
    """
    truth = _REG["dedup_jaccard"].fn(spark, sf_dir).select("doc_a", "doc_b")
    lsh = _REG["dedup_near"].fn(spark, sf_dir).select(
        F.col("doc_a").alias("la"), F.col("doc_b").alias("lb")
    )
    return _pair_recall(truth, lsh)


@register(
    "sim_ivf_recall",
    oracle=_pair_recall_oracle(
        f"SELECT * FROM ({_REG['sim_knn'].oracle}) WHERE rn <= 5",
        _REG["sim_ivf"].oracle,
        "probe_id",
        "vec_id",
    ),
)
def sim_ivf_recall(spark, sf_dir):
    """[r12] IVF QUALITY made a first-class query (VERDICT r11 #6 —
    the dedup_near_recall pattern promoted to the ANN pair): recall@5
    of the trained-codebook IVF search (sim_ivf, nprobe=2) against the
    exhaustive brute-force truth (sim_knn top-5) over the same probe
    set — the accuracy/cost trade of the sub-linear ANN path measured
    IN-ENGINE, hash-checked cross-engine, instead of pinned only in a
    unit test.

    Composes the two REGISTERED queries verbatim (identical plans to
    the individual keys) and semi-joins their (probe, neighbor) pair
    sets: n_true, n_found, recall.  Scale: both members are
    broadcast-probe shapes; the final semi-join is equi over two
    ≤25-row pair relations."""
    truth = _REG["sim_knn"].fn(spark, sf_dir).filter(F.col("rn") <= 5).select("probe_id", "vec_id")
    ivf = _REG["sim_ivf"].fn(spark, sf_dir).select(
        F.col("probe_id").alias("ip"), F.col("vec_id").alias("iv")
    )
    return _pair_recall(truth, ivf)


@register(
    "pipeline_entity_resolution",
    oracle="""
    WITH RECURSIVE names AS (
      SELECT p_name, cast(min(p_partkey) AS bigint) AS nid
      FROM part GROUP BY p_name
    ),
    sigs AS (
      SELECT p_name, nid,
             array_to_string(list_sort(list_distinct(string_split(
               regexp_replace(lower(p_name), '[aeiou ]', '', 'g'), ''))), '') AS sig
      FROM names
    ),
    pairs AS (
      SELECT a.nid AS s, b.nid AS d
      FROM sigs a JOIN sigs b
        ON b.sig = a.sig AND a.nid < b.nid
       AND levenshtein(a.p_name, b.p_name) <= 2
    ),
    edges AS (
      SELECT s, d FROM pairs UNION ALL SELECT d, s FROM pairs
    ),
    walk AS (
      SELECT nid AS doc, nid AS lab FROM names
      UNION
      SELECT e.d AS doc, w.lab FROM walk w JOIN edges e ON e.s = w.doc
    ),
    resolved AS (
      SELECT doc AS nid, min(lab) AS entity_id FROM walk GROUP BY doc
    )
    SELECT n.p_name, r.entity_id,
           (SELECT cast(count(*) AS bigint) FROM resolved r2
            WHERE r2.entity_id = r.entity_id) AS cluster_size
    FROM names n JOIN resolved r ON r.nid = n.nid
    """,
)
def pipeline_entity_resolution(spark, sf_dir):
    """Entity resolution END-TO-END: catalog names → phonetic-
    signature blocking → in-block levenshtein verify → transitive
    CLOSURE → canonical entity id per name — the full MDM/dedup
    chain (pairwise similarity is not transitive: without the
    closure, 'smal ring' ~ 'small ring' ~ 'smalll ring' elects two
    masters).

    Composes the proven spines: join_phonetic's consonant-set
    blocking (equi-join, never all-pairs), dedup_edit_distance's
    in-block verify, and dedup_components' pointer-jumping min-label
    propagation (O(log diameter) rounds, localCheckpoint lineage
    truncation) — against a recursive-CTE declarative ground truth.
    Names collapse to ≤|distinct names| ids first (min partkey), so
    the graph stage runs on the entity universe, not the row count;
    cluster_size rides along for the reviewer queue (big clusters =
    likely over-merge, the MDM triage signal).
    """
    names = (
        t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").cast("bigint").alias("nid"))
    )
    no_vowels = F.regexp_replace(F.lower(F.col("p_name")), "[aeiou ]", "")
    sigs = names.withColumn(
        "sig",
        F.array_join(
            F.array_sort(F.array_distinct(F.array_remove(F.split(no_vowels, ""), ""))),
            "",
        ),
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.sig") == F.col("a.sig")) & (F.col("a.nid") < F.col("b.nid")),
        )
        .filter(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 2)
        .select(F.col("a.nid").alias("doc_a"), F.col("b.nid").alias("doc_b"))
    )
    comp = connected_components(pairs).select(
        F.col("doc").alias("c_nid"), F.col("lab").alias("entity_id")
    )
    # singletons (no edges) resolve to themselves
    resolved = names.join(comp, names.nid == comp.c_nid, "left").select(
        "p_name",
        "nid",
        F.coalesce(F.col("entity_id"), F.col("nid")).alias("entity_id"),
    )
    sizes = resolved.groupBy(F.col("entity_id").alias("s_ent")).agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return resolved.join(sizes, resolved.entity_id == sizes.s_ent).select(
        "p_name", "entity_id", "cluster_size"
    )


@register(
    "mm_training_manifest",
    oracle="""
    WITH rec AS (
      SELECT d.doc_id, d.lang, d.source,
             encode(d.text) AS payload,
             e.label,
             len(e.embedding) AS emb_dim,
             (e.vec_id IS NOT NULL) AS has_vec
      FROM documents d
      LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    typed AS (
      SELECT *,
             CASE WHEN octet_length(payload) >= 400 THEN 'large'
                  WHEN octet_length(payload) >= 200 THEN 'medium'
                  ELSE 'small' END AS size_class
      FROM rec
    )
    SELECT source, size_class,
           cast(count(*) AS bigint) AS n_records,
           cast(sum(octet_length(payload)) AS bigint) AS total_bytes,
           cast(sum(CASE WHEN has_vec THEN 1 ELSE 0 END) AS bigint) AS n_with_vec,
           cast(min(octet_length(payload)) AS bigint) AS min_bytes,
           cast(max(octet_length(payload)) AS bigint) AS max_bytes
    FROM typed
    GROUP BY 1, 2
    """,
)
def mm_training_manifest(spark, sf_dir):
    """Multimodal TRAINING-BATCH manifest: every record carries an
    opaque BINARY payload (text bytes stand in for image/audio blobs
    — the container has no decoders, and the manifest deliberately
    never decodes) plus typed metadata and an optional embedding;
    the output is the per-(source, size-class) loading plan a data-
    loader needs BEFORE it touches a single payload: record counts,
    byte budgets, vector coverage, min/max payload sizes for batch
    shaping.

    This is the multimodal twin of pipeline_rag_index: byte-level
    accounting over `binary` columns (octet_length — payloads are
    never parsed, so the same plan runs on real JPEG/FLAC bytes
    unchanged), one LEFT join to the vector table, one map-side-
    combined rollup.  Size classes bucket the payload-length skew
    that drives loader batch shaping (mixing a 4 MB image with 4 KB
    thumbnails in one Arrow batch is the classic OOM).
    """
    docs = t_fanout(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.encode("text", "utf-8").alias("payload"),
    )
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    rec = docs.join(emb, docs.doc_id == emb.vec_id, "left").withColumn(
        "n_bytes", F.octet_length("payload")
    )
    typed = rec.withColumn(
        "size_class",
        F.when(F.col("n_bytes") >= 400, "large")
        .when(F.col("n_bytes") >= 200, "medium")
        .otherwise("small"),
    )
    return typed.groupBy("source", "size_class").agg(
        F.count("*").cast("bigint").alias("n_records"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.sum(F.when(F.col("vec_id").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_vec"),
        F.min("n_bytes").cast("bigint").alias("min_bytes"),
        F.max("n_bytes").cast("bigint").alias("max_bytes"),
    )
