"""Property-based invariants (hypothesis on pure helpers; cheap literal
DataFrames for engine-level laws) — SURVEY §5.4."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st

from raster2points_spark.operators.grid import geodesic_area_py

lat_st = st.floats(min_value=-89.0, max_value=89.0, allow_nan=False)
d_st = st.floats(min_value=1e-4, max_value=1.0, allow_nan=False)


@given(lat=lat_st, dlon=d_st, dlat=d_st)
@settings(max_examples=200, deadline=None)
def test_area_positive_and_bounded(lat, dlon, dlat):
    a = geodesic_area_py(lat, dlon, dlat)
    assert a >= 0
    # never exceeds the equatorial flat approximation
    r = 6378137.0
    flat = math.radians(dlon) * math.radians(dlat) * r * r
    assert a <= flat * 1.0000001


@given(lat=st.floats(min_value=0.0, max_value=88.0, allow_nan=False), d=d_st)
@settings(max_examples=200, deadline=None)
def test_area_symmetric_about_equator(lat, d):
    assert math.isclose(
        geodesic_area_py(lat, d, d), geodesic_area_py(-lat, d, d), rel_tol=1e-9
    )


@given(lat=st.floats(min_value=0.0, max_value=80.0, allow_nan=False), d=d_st)
@settings(max_examples=100, deadline=None)
def test_area_decreases_toward_pole(lat, d):
    assert geodesic_area_py(lat + 5.0, d, d) < geodesic_area_py(lat, d, d) + 1e-9


# --- engine-level laws on tiny literal frames (one Spark round each) ---


def test_union_all_rowcount_additive(spark):
    a = spark.range(7)
    b = spark.range(11)
    assert a.unionAll(b).count() == 18


def test_dedup_idempotent(spark):
    df = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "k long, v string")
    once = df.dropDuplicates()
    assert once.count() == once.dropDuplicates().count() == 2


def test_grid_unpivot_roundtrip(spark):
    """melt → re-pivot reconstructs every tile payload exactly."""
    from pyspark.sql import functions as F

    from raster2points_spark.operators.grid import grid_unpivot
    from raster2points_spark.queries._util import GRID_DIR
    from raster2points_spark.sources.tiles import ensure_grid_fixtures, read_tiles

    ensure_grid_fixtures(GRID_DIR)
    tiles = read_tiles(spark, f"{GRID_DIR}/grid4.parquet").filter(F.col("band_id") == "b1")
    melted = grid_unpivot(tiles)
    rebuilt = (
        melted.groupBy("tile_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "value"))).alias("pv"))
        .select("tile_id", F.expr("transform(pv, x -> coalesce(x.value, -9999.0d))").alias("data"))
    )
    orig = {r.tile_id: r.data for r in tiles.select("tile_id", "data").collect()}
    got = {r.tile_id: r.data for r in rebuilt.collect()}
    assert got == orig


def test_mask_count_bounded_by_pixels(spark):
    from pyspark.sql import functions as F

    from raster2points_spark.operators.grid import grid_unpivot, nodata_filter
    from raster2points_spark.queries._util import GRID_DIR
    from raster2points_spark.sources.tiles import ensure_grid_fixtures, read_tiles

    ensure_grid_fixtures(GRID_DIR)
    tiles = read_tiles(spark, f"{GRID_DIR}/grid64.parquet").filter(F.col("band_id") == "b1")
    total_px = tiles.select(F.sum(F.size("data"))).first()[0]
    valid = nodata_filter(grid_unpivot(tiles)).count()
    assert 0 < valid <= total_px


def test_functions_library_matches_query_exprs(spark, tmp_path):
    """The dot product, tokenizer, token hash, bag fingerprint and
    shingle builder the registered queries use, checked on one row."""
    from pyspark.sql import functions as F

    from raster2points_spark.queries.llm import (
        _SHINGLES_SPARK,
        _TOKEN_HASH_SPARK,
        TOKS_SPARK,
        _dot,
        text_fingerprint,
    )

    text = "Alpha beta  alpha gamma beta x"
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0], text, "hello")],
        "a array<double>, b array<double>, text string, w string",
    )
    row = df.select(
        F.expr(_dot("a", "b")).alias("d"),
        F.expr(TOKS_SPARK).alias("tk"),
        F.expr(_TOKEN_HASH_SPARK).alias("h"),
    ).first()
    assert row.d == 32.0
    assert row.tk == ["alpha", "beta", "alpha", "gamma", "beta", "x"]
    # same md5-derived value DuckDB computes via 0x-cast (verified in
    # the dedup_simhash oracle): stable cross-engine hash
    assert row.h == 419982666956583591
    import hashlib

    want = hashlib.md5(" ".join(sorted(set(row.tk))).encode()).hexdigest()
    sf = str(tmp_path)
    df.select(F.lit(1).cast("long").alias("doc_id"), "text").write.parquet(f"{sf}/documents.parquet")
    assert text_fingerprint(spark, sf).first().bag_fp == want

    sh = df.withColumn("toks", F.expr(TOKS_SPARK)).select(F.expr(_SHINGLES_SPARK).alias("s")).first().s
    assert "alpha beta alpha" in sh and len(sh) == 4


# --- connected components vs a driver-side union-find ground truth ----

edge_st = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=12,
)


def _union_find_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    return {n: find(n) for n in parent}


@given(edges=edge_st)
@settings(max_examples=10, deadline=None)  # each example runs Spark jobs
def test_connected_components_matches_union_find(spark, edges):
    """The distributed min-label propagation must converge to the same
    partition a sequential union-find computes, for arbitrary graphs
    (chains, cycles, stars, disconnected pieces)."""
    from raster2points_spark.queries.llm import connected_components

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc: r.lab for r in connected_components(df).collect()}
    assert got == _union_find_components(edges)


def test_bpe_merge_fold_matches_python_on_random_words(spark):
    """The aggregate() merge fold must apply greedy left-to-right BPE
    merging identically to the obvious sequential implementation, for
    arbitrary symbol sequences including overlapping pairs (aaa),
    repeats, and pair-at-boundary cases.  200 seeded random words are
    checked in ONE Spark job (the word index rides in the n column)."""
    import random

    from pyspark.sql import functions as F

    from raster2points_spark.queries.llm import _bpe_apply_merge

    rng = random.Random(42)
    alphabet = ["a", "b", "c"]
    words = [
        [rng.choice(alphabet) for _ in range(rng.randint(1, 12))] for _ in range(200)
    ]
    a, b = "a", "b"

    def ref_merge(syms):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    tagged = spark.createDataFrame(
        [(w, i) for i, w in enumerate(words)], "syms array<string>, n long"
    )
    got = {r.n: r.syms for r in _bpe_apply_merge(tagged, a, b).collect()}
    want = {i: ref_merge(w) for i, w in enumerate(words)}
    assert got == want


def test_morton_key_roundtrip_random_pairs(spark):
    """z-order interleave must be invertible: deinterleaving the even/
    odd bits of zkey recovers (a, b) exactly for 200 seeded random
    16-bit pairs — one Spark job."""
    import random

    from pyspark.sql import functions as F

    from raster2points_spark.queries.scans import _Z_SPARK

    rng = random.Random(7)
    pairs = [(rng.randrange(0, 65536), rng.randrange(0, 65536)) for _ in range(200)]
    df = spark.createDataFrame(pairs, "a long, b long")
    rows = df.select("a", "b", F.expr(_Z_SPARK).alias("z")).collect()
    for r in rows:
        a = sum(((r.z >> (2 * i)) & 1) << i for i in range(16))
        b = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (a, b) == (r.a, r.b), (r.a, r.b, r.z)


def test_srp_banded_recall_contains_single_band(spark):
    """dedup_embed's OR-construction: the multi-band candidate-pair set
    must be a superset of band 0 alone (band 0 is the legacy-seeded
    single 8-bit SRP band).  Guards the banding refactor — losing a
    band, or breaking the bucket-id band offset, shrinks recall and
    fails here.  Buckets come from dedup_embed's own sign and
    dynamic-width fold expressions at nbits = 8, the width every
    shipped corpus gets (the fixed-width 8-bit partition)."""
    from pyspark.sql import functions as F

    from raster2points_spark.queries import llm
    from raster2points_spark.queries._util import t_fanout
    from tests.conftest import SF0001

    emb = t_fanout(spark, SF0001, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(round(cast(x AS double) * 1000) AS bigint))"
        ).alias("ei"),
    ).select(
        "vec_id",
        *[F.expr(s).alias(f"sb{i}") for i, s in enumerate(llm._srp_sign_exprs_spark())],
    )
    buckets = llm._srp_dyn_bucket_exprs_spark("8")
    band0 = emb.select("vec_id", F.expr(buckets[0]).alias("bucket"))
    a, b = band0.alias("a"), band0.alias("b")
    single = {
        (r.vec_a, r.vec_b)
        for r in a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .collect()
    }
    registry = __import__(
        "raster2points_spark.registry", fromlist=["load_all"]
    ).load_all()
    # compare at the candidate level: drop the cos threshold so the
    # containment is about blocking recall, not the similarity filter
    full_df = registry["dedup_embed"].fn(spark, SF0001)
    # re-derive the unthresholded candidate set the same way the op does
    bands = "array(" + ", ".join(buckets) + ")"
    bkt = emb.select("vec_id", F.explode(F.expr(bands)).alias("bucket"))
    a2, b2 = bkt.alias("a"), bkt.alias("b")
    banded = {
        (r.vec_a, r.vec_b)
        for r in a2.join(
            b2,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
        .collect()
    }
    assert single, "band-0 candidate set should be non-empty on the fixture"
    assert single <= banded, "OR-construction must contain the single-band set"
    assert len(banded) >= len(single)
    # and the operator itself still runs green on the fixture
    assert full_df.count() >= 0


def test_type_buckets_spark_matches_duckdb(spark):
    """The shared time-bucket builders (``type_buckets`` in Spark,
    ``type_buckets_sql`` in DuckDB) give the same per-(event_type,
    bucket) rows at the 5-minute, hourly and daily widths the time
    keys use — engine drift in the bucket or in the milli-unit sum
    shows here without the full oracle run."""
    import duckdb
    from pyspark.sql import functions as F

    from raster2points_spark.queries._util import type_buckets, type_buckets_sql
    from tests.conftest import SF0001

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF0001}/events.parquet')"
    )
    vm_sql = "sum(cast(round(value * 1000) AS bigint)) AS vm, count(*) AS n"
    for n in (300, 3600, 86400):
        got = type_buckets(
            spark,
            SF0001,
            n,
            "b",
            F.sum(F.round(F.col("value") * 1000).cast("bigint")).alias("vm"),
            F.count("*").alias("n"),
        ).collect()
        want = con.execute(type_buckets_sql(n, "b", vm_sql)).fetchall()
        assert len(want) > 1
        assert sorted(map(tuple, got)) == sorted(want), n


def test_sessionize_conserves_events(spark, registry):
    """Invariant: session rollup partitions the event stream — the
    per-session n_events sum equals the raw event count, and every
    duration is non-negative."""
    from tests.conftest import SF001
    from pyspark.sql import functions as F

    sessions = registry["sessionize_batch"].fn(spark, SF001)
    agg = sessions.agg(
        F.sum("n_events").alias("total"),
        F.min("duration_s").alias("min_dur"),
    ).collect()[0]
    n_events = spark.read.parquet(f"{SF001}/events.parquet").count()
    assert agg["total"] == n_events
    assert agg["min_dur"] >= 0


def test_funnel_is_monotone(spark, registry):
    """Invariant: each funnel stage's user count is <= the previous
    stage's (strict temporal ordering can only lose users)."""
    from tests.conftest import SF001

    rows = registry["funnel_batch"].fn(spark, SF001).orderBy("stage").collect()
    users = [r["users"] for r in rows]
    assert len(users) == 3
    assert users[0] >= users[1] >= users[2]


def test_rle_runs_conserve_events(spark, registry):
    """Invariant: run lengths sum to the event count (runs partition
    each user's sequence)."""
    from tests.conftest import SF001
    from pyspark.sql import functions as F

    runs = registry["rle_events"].fn(spark, SF001)
    total = runs.agg(F.sum("run_len").alias("s")).collect()[0]["s"]
    n_events = spark.read.parquet(f"{SF001}/events.parquet").count()
    assert total == n_events


def test_dedup_chunks_conserves_and_only_shrinks(spark, registry):
    """Invariants: every doc survives (500 rows), kept+dropped equals
    the doc's chunk count, and nothing is ever ADDED (clean_text word
    count <= original word count)."""
    from tests.conftest import SF001
    from pyspark.sql import functions as F

    out = registry["dedup_chunks"].fn(spark, SF001)
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    assert out.count() == docs.count()
    bad = (
        out.join(docs, "doc_id")
        .filter(
            F.size(F.split(F.coalesce("clean_text", F.lit("")), " "))
            > F.size(F.split("text", " "))
        )
        .count()
    )
    assert bad == 0


def test_weighted_sample_prefers_heavier_docs(spark, registry):
    """Statistical sanity: the A-ES weighted sample's mean doc length
    must exceed the corpus mean (weights = n_chars)."""
    from tests.conftest import SF001
    from pyspark.sql import functions as F

    sample = registry["sample_weighted"].fn(spark, SF001)
    s_mean = sample.agg(F.avg("n_chars")).collect()[0][0]
    c_mean = (
        spark.read.parquet(f"{SF001}/documents.parquet").agg(F.avg("n_chars")).collect()[0][0]
    )
    assert s_mean > c_mean


def test_compression_ratio_matches_plain_zlib(spark, registry):
    """The mapInPandas zlib-6 ratio must equal the same computation in
    plain Python for every doc (determinism of the rows-only key)."""
    import zlib

    from tests.conftest import SF001

    out = {
        r["doc_id"]: (r["raw_bytes"], r["comp_bytes"], r["ratio"])
        for r in registry["text_compression_ratio"].fn(spark, SF001).collect()
    }
    docs = spark.read.parquet(f"{SF001}/documents.parquet").collect()
    assert len(out) == len(docs)
    for d in docs:
        raw = d["text"].encode("utf-8")
        comp = len(zlib.compress(raw, 6))
        got = out[d["doc_id"]]
        assert got[0] == len(raw) and got[1] == comp
        assert abs(got[2] - round(comp / len(raw), 4)) < 1e-9


def test_approx_percentile_rank_error_bound(spark, registry):
    """agg_approx_percentile is rows-only (GK sketch has no DuckDB
    twin) — pin the GK guarantee instead: each approximate quantile's
    RANK in the exact sorted values must be within accuracy=1/10000
    (plus slack) of the requested rank."""
    from tests.conftest import SF001

    rows = registry["agg_approx_percentile"].fn(spark, SF001).collect()
    li = spark.read.parquet(f"{SF001}/lineitem.parquet")
    for r in rows:
        vals = sorted(
            x.l_extendedprice
            for x in li.filter(li.l_returnflag == r.l_returnflag)
            .select("l_extendedprice")
            .collect()
        )
        n = len(vals)
        assert n == r.n
        for q, est in ((0.5, r.p50), (0.9, r.p90), (0.99, r.p99)):
            import bisect

            rank = bisect.bisect_left(vals, est)
            assert abs(rank - q * n) <= max(0.01 * n, 1.5), (
                r.l_returnflag,
                q,
                est,
                rank,
                q * n,
            )


def test_ks_statistic_matches_numpy_recompute(spark, registry):
    """stat_ks_test vs a THIRD implementation: exact two-sample KS
    recomputed with numpy ECDFs straight off the parquet — D and λ
    must agree beyond the key's own rounding, and D ∈ (0, 1]."""
    import numpy as np
    import pandas as pd

    sf = "/root/testdata/sf0.001"
    row = registry["stat_ks_test"].fn(spark, sf).collect()[0]
    li = pd.read_parquet(f"{sf}/lineitem.parquet",
                         columns=["l_extendedprice", "l_returnflag"])
    r = np.sort(li.loc[li.l_returnflag == "R", "l_extendedprice"].to_numpy())
    n = np.sort(li.loc[li.l_returnflag == "N", "l_extendedprice"].to_numpy())
    grid = np.union1d(r, n)
    f1 = np.searchsorted(r, grid, side="right") / len(r)
    f2 = np.searchsorted(n, grid, side="right") / len(n)
    d = np.max(np.abs(f1 - f2))
    assert row.n_r == len(r) and row.n_n == len(n)
    assert 0 < row.d_stat <= 1
    assert abs(row.d_stat - d) < 1e-9
    lam = d * math.sqrt(len(r) * len(n) / (len(r) + len(n)))
    assert abs(row.ks_lambda - lam) < 1e-6


def test_zorder_magic_spread_equals_bit_fold(spark):
    """sink_zorder's r15 magic-number Morton spread vs the original
    explicit per-bit fold (still the DuckDB oracle's formulation):
    identical bigint for random and boundary 16-bit inputs.  The
    spread places each input bit at a disjoint output position, so
    OR == the fold's +; this pins that identity in-engine."""
    import random

    from pyspark.sql import functions as F

    from raster2points_spark.io import local_df
    from raster2points_spark.queries.scans import _Z_SPARK

    fold = (
        "aggregate(sequence(0, 15), cast(0 as bigint), (acc, i) -> acc"
        " + shiftleft(shiftright(a, i) & 1, 2*i)"
        " + shiftleft(shiftright(b, i) & 1, 2*i + 1))"
    )
    rng = random.Random(150)
    rows = [(0, 0), (65535, 65535), (65535, 0), (0, 65535), (1, 2)] + [
        (rng.randrange(65536), rng.randrange(65536)) for _ in range(500)
    ]
    # bigint like the real query's (l_partkey % 65536): the fold's
    # shiftleft must be 64-bit (an int column overflows at bit 31)
    df = local_df(spark, rows, "a bigint, b bigint")
    bad = (
        df.withColumn("z1", F.expr(fold))
        .withColumn("z2", F.expr(_Z_SPARK))
        .filter("z1 <> z2")
        .count()
    )
    assert bad == 0


def test_fn_cast_guard_superset_of_castable(spark):
    """ADVICE r15 (low): fn_cast's numeric-shape guard must be a strict
    superset of strings Spark's string->int cast accepts, or the
    guarded expression diverges from plain try_cast.  Spark trims
    [\\x00-\\x20] AND DEL (\\x7f) — '5\\x7f' casts to 5, so the guard
    class includes \\x7f.  Probe the guarded vs unguarded expressions
    in-engine over the edge cases."""
    from raster2points_spark.io import local_df

    probes = [
        "5", "+5", "-5", " 5 ", "\x005\x00", "\x1f5\x1f", "5\x7f", "\x7f+5\x7f",
        "", " ", "x", "5.0", "5e1", "٥", "  +  5", "99999999999999999999",
        "2147483647", "2147483648", "-2147483648", "-2147483649", "+", "-",
        "5 5", "\x7f", "5\x80", "①",
    ]
    df = local_df(spark, [(s,) for s in probes], "s string")
    guard = r"^[\x00-\x20\x7f]*[+-]?[0-9]+[\x00-\x20\x7f]*$"
    from pyspark.sql import functions as F

    rows = df.select(
        "s",
        F.coalesce(
            F.when(F.col("s").rlike(guard), F.col("s").try_cast("int")), F.lit(-1)
        ).alias("guarded"),
        F.coalesce(F.col("s").try_cast("int"), F.lit(-1)).alias("plain"),
    ).collect()
    for r in rows:
        assert r["guarded"] == r["plain"], (repr(r["s"]), r["guarded"], r["plain"])


# --- the two copies of the point formula: numpy kernel vs SQL explode ---

_finite = st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False)
_rotation = _finite.filter(lambda x: x != 0.0)


@st.composite
def _point_windows(draw):
    """Windows of one random raster stack: each is (col_off, row_off,
    band arrays as float64 — None for a missing secondary window —, and
    the row count each secondary band really covers, fewer than the
    window's for a band clipped at its raster's edge)."""
    import numpy as np

    dtype = draw(st.sampled_from(["u1", "i2", "f4"]))
    values = {
        "u1": st.integers(0, 255),
        "i2": st.integers(-32768, 32767),
        "f4": st.floats(width=32, allow_infinity=False),  # NaN included
    }[dtype]
    n_bands = draw(st.integers(1, 3))
    a, c, e, f = (draw(_finite) for _ in range(4))
    transform = [a, draw(_rotation), c, draw(_rotation), e, f]
    windows = []
    for _ in range(draw(st.integers(1, 3))):
        h, w = draw(st.integers(1, 4)), draw(st.integers(1, 4))
        offs = draw(st.integers(0, 10**6)), draw(st.integers(0, 10**6))
        bands, covered = [], []
        for i in range(n_bands):
            raw = draw(st.lists(values, min_size=h * w, max_size=h * w))
            arr, rows = np.array(raw, dtype=dtype).astype("f8").reshape(h, w), h
            kind = draw(st.sampled_from(["full", "missing", "short"])) if i else "full"
            if kind == "missing":
                arr, rows = None, 0
            elif kind == "short" and h > 1:
                rows = draw(st.integers(1, h - 1))
                arr[rows:] = np.nan
            bands.append(arr)
            covered.append(rows)
        windows.append((*offs, bands, covered))
    # nodata per band: undeclared, NaN, or a value that occurs in the data
    seen = [float(x) for _, _, bs, _ in windows for b in bs if b is not None for x in b.ravel()]
    nodata = [draw(st.one_of(st.none(), st.just(math.nan), st.sampled_from(seen)))
              for _ in range(n_bands)]
    return transform, nodata, windows


def _bits(row):
    import struct

    return tuple(None if v is None else struct.pack(">d", v) for v in row)


@given(case=_point_windows())
@settings(max_examples=15, deadline=None)  # each example runs one Spark job
def test_kernel_points_match_sql_explode_bit_for_bit(spark, case):
    """operators.grid.points_from_windows (the GeoTIFF-path kernel) and
    zipped_points (the tile-table explode) emit the same rows, bit for
    bit in lon, lat and every value: rotated transforms, offsets, edge
    windows, NaN/nodata pixels, NaN or undeclared nodata, missing and
    clipped secondary windows, u1/i2/f4 sources.  The tile-table row
    follows its contract: NaN pixels as NULL elements, a clipped band
    as a payload of only the rows it covers."""
    import numpy as np
    import pyarrow as pa

    from raster2points_spark.operators.grid import points_from_windows, zipped_points

    transform, nodata, windows = case
    n = len(nodata)
    # the kernel reads an undeclared nodata as NaN, like the TIFF header
    nd_np = [math.nan if nd is None else nd for nd in nodata]
    kernel = pa.Table.from_batches(
        [points_from_windows(b[0], b[1:], nd_np, transform, co, ro) for co, ro, b, _ in windows]
    )
    want = sorted(map(_bits, zip(*kernel.to_pydict().values())), key=repr)

    def payload(arr, rows):
        if arr is None:
            return None
        return [None if np.isnan(x) else float(x) for x in arr[:rows].ravel()]

    rows = []
    for t, (co, ro, bands, covered) in enumerate(windows):
        row = [t, co, ro, bands[0].shape[1], transform]
        for arr, nd, k in zip(bands, nodata, covered):
            row += [nd, payload(arr, k)]
        rows.append(row)
    schema = "tile_id long, col_off int, row_off int, width int, transform array<double>, "
    schema += ", ".join(f"nd{i} double, d{i} array<double>" for i in range(n))
    zipped = spark.createDataFrame(rows, schema)
    got = zipped_points(zipped, [f"b{i}" for i in range(n)]).collect()
    assert sorted(map(_bits, got), key=repr) == want
