"""The dedup-fair scale decade's construction invariant.

tools/scale_probe.py --xdedup probes the near-dup family over
synthetic corpora built by ``build_x10_dedup``: per-copy token
salting renames every token bijectively, so each copy's shingle
universe is disjoint from every other copy's and candidate
generation can NEVER cross copy boundaries.  The probe's runtime
table only means something if that invariant actually holds — this
test pins it at copies_n=2 over sf0.001: every content-keyed result
cardinality must be EXACTLY 2x its single-corpus value.

(dedup_near is the sharpest check: its LSH band buckets hash salted
shingle minima, so a cross-copy bucket collision would surface extra
candidate pairs — verified exact-Jaccard would still reject them,
which is itself the structure the probe relies on.)
"""

from __future__ import annotations

import os
import sys

from tests.conftest import SF0001

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from scale_probe import build_x10_dedup  # noqa: E402

EXACT_KEYS = ["dedup_exact", "dedup_jaccard", "dedup_containment", "text_tfidf"]


def test_dedup_decade_is_a_bijective_rename(spark, registry):
    x2 = build_x10_dedup(SF0001, copies_n=2)
    for key in EXACT_KEYS:
        base = registry[key].fn(spark, SF0001).count()
        doubled = registry[key].fn(spark, x2).count()
        assert doubled == 2 * base, (
            f"{key}: {doubled} rows over 2 salted copies vs {base} over the "
            f"base corpus — candidate generation leaked across copy universes"
        )


def test_emb_decade_rotation_keeps_topk_cardinality(spark, registry):
    """The rotation decade's invariant for fixed-top-k search keys:
    per-copy orthogonal rotations preserve within-copy geometry, and
    the probe/top-k contract returns a FIXED number of rows — corpus
    growth must change neighbors' identities at most, never the
    result cardinality."""
    from scale_probe import build_xemb

    x2 = build_xemb(SF0001, copies_n=2)
    for key in ("sim_knn", "sim_ivf", "embed_pq"):
        base = registry[key].fn(spark, SF0001).count()
        doubled = registry[key].fn(spark, x2).count()
        assert doubled == base, f"{key}: top-k cardinality moved {base}->{doubled}"


def test_dedup_near_never_pairs_across_copies(spark, registry):
    """LSH band minima re-roll under salting, so a borderline pair's
    recall varies per copy (rows <= 2x base) — but the exact-Jaccard
    verify makes EXTRA pairs impossible, and no pair may ever span two
    copy universes (disjoint shingle sets => jaccard 0 < threshold)."""
    from pyspark.sql import functions as F

    x2 = build_x10_dedup(SF0001, copies_n=2)
    base = registry["dedup_near"].fn(spark, SF0001).count()
    pairs = registry["dedup_near"].fn(spark, x2)
    doubled = pairs.count()
    assert doubled <= 2 * base
    assert doubled >= 2 * base - max(1, base // 10)
    cross = pairs.filter(
        (F.col("doc_a") / 1000000).cast("bigint")
        != (F.col("doc_b") / 1000000).cast("bigint")
    )
    assert cross.count() == 0


def test_raster_probe_seam_defaults_to_grid64(spark, registry, monkeypatch):
    """The _probe_tiles env seam must be invisible when env is unset
    (every gate/driver/bench path), and a same-grid env setting must
    reproduce the default results exactly — so the probe measures the
    SHIPPED dataflow, not a variant."""
    import raster2points_spark.queries.raster as R

    monkeypatch.delenv("SPARK_GRAFT_RASTER_GRID", raising=False)
    base = sorted(
        map(tuple, registry["raster_region_label"].fn(spark, SF0001).collect())
    )
    monkeypatch.setenv("SPARK_GRAFT_RASTER_GRID", R.GRID64)
    monkeypatch.setenv("SPARK_GRAFT_RASTER_W", "64")
    via_env = sorted(
        map(tuple, registry["raster_region_label"].fn(spark, SF0001).collect())
    )
    assert via_env == base


def test_gate_semantics_r10(spark):
    """Pin the r10 gate (r9 ADVICE fix on top of the r9 tightening):

    - per-step ratios floor ONLY sub-second denominators (>=1 s gates
      raw);
    - the two-decade check is ABSOLUTE growth with a +2 s fixed-cost
      allowance (times[2] >= 100*times[0] + 2 fails), so a sub-second
      baseline no longer buys a free ride to 100 s: the r9 ADVICE
      counter-example 0.2 -> 10 -> 90 s (450x real growth, passed the
      1 s-floored gate) now fails;
    - the r8 relation-cache artifact shape (dedup_near 0.47 -> 7.67
      -> 28.54 s, scaling unchanged while the baseline halved) still
      passes, as do the slowest real r9 decade ladders.
    """
    from scale_probe import _gate_overall, _gate_ratios

    def fails(times):
        g1, g2 = _gate_ratios(times)
        return g1 >= 15 or g2 >= 15 or _gate_overall(times) >= 100

    assert not fails([0.47, 7.67, 28.54])  # relation-cache artifact
    assert not fails([1.22, 9.35, 93.14])  # r8 raster decade (76x abs)
    assert not fails([1.28, 6.12, 85.56])  # r9 dedup_jaccard x100 ladder
    assert fails([0.2, 8.0, 320.0])  # cheap quadratic
    assert fails([0.2, 10.0, 90.0])  # r9 ADVICE counter-example
    assert fails([2.0, 40.0, 90.0])  # measurable 20x step gates raw
    # overall gate is end-to-end: a 100x-for-100x breach fails even
    # with both steps under 15
    assert fails([1.0, 14.0, 140.0])


def test_noise_retry_semantics():
    """Pin _noise_retry (r10 form, r9 ADVICE): a gate-tripping ladder
    is re-measured once and the retry LADDER is gated as measured (no
    cross-run per-point composite that never co-occurred); a clean
    ladder never re-measures; a rows mismatch between the two runs is
    real nondeterminism — the first sample is kept and the mismatch is
    returned explicitly (r11 ADVICE) for the caller to flag."""
    from scale_probe import _noise_retry, _runtime_gate_fails

    calls = []

    def measure_outlier():
        calls.append(1)
        # first sample has a 30s spike at the middle point, retry is
        # the quiet-box ladder
        return ([1.1, 29.7, 28.3], [1, 2, 3]) if len(calls) == 1 else (
            [1.2, 11.9, 27.0],
            [1, 2, 3],
        )

    times, rows, first, row_mis = _noise_retry(measure_outlier, _runtime_gate_fails)
    assert len(calls) == 2
    assert first == [1.1, 29.7, 28.3]
    assert times == [1.2, 11.9, 27.0]  # the retry ladder, as measured
    assert row_mis is None
    assert not _runtime_gate_fails(times)

    calls.clear()

    def measure_both_fail():
        calls.append(1)
        # genuinely super-linear: both ladders trip the gate
        return ([0.2, 8.0, 300.0 + len(calls)], [1, 2, 3])

    times, rows, first, row_mis = _noise_retry(measure_both_fail, _runtime_gate_fails)
    assert len(calls) == 2
    assert first == [0.2, 8.0, 301.0]
    assert times == [0.2, 8.0, 302.0]  # retry ladder kept; still fails
    assert row_mis is None
    assert _runtime_gate_fails(times)

    calls.clear()

    def measure_clean():
        calls.append(1)
        return [1.0, 3.0, 9.0], [5, 6, 7]

    times, rows, first, row_mis = _noise_retry(measure_clean, _runtime_gate_fails)
    assert len(calls) == 1 and first is None and row_mis is None

    calls.clear()

    def measure_unstable_rows():
        calls.append(1)
        return [0.2, 8.0, 320.0], [1, 2, len(calls)]

    times, rows, first, row_mis = _noise_retry(measure_unstable_rows, _runtime_gate_fails)
    assert len(calls) == 2 and first is None
    # r11 ADVICE: the rows mismatch is surfaced explicitly so callers
    # flag 'rows changed between runs' instead of super-linear growth
    assert row_mis == [1, 2, 2]
    assert rows == [1, 2, 1]  # the first sample is what is kept
    assert _runtime_gate_fails(times)  # real failure kept


def test_xraster_grid_is_tile_exact(spark, monkeypatch):
    """build_xraster grids must unpivot to exactly n*n pixels per band
    with col/row < n — the collision-free precondition for the
    pid = row*W + col packing the probe relies on."""
    from pyspark.sql import functions as F

    from raster2points_spark.operators.grid import grid_unpivot
    from raster2points_spark.sources.tiles import read_tiles
    from tools.scale_probe import build_xraster

    p = build_xraster(128)
    px = grid_unpivot(read_tiles(spark, p).filter(F.col("band_id") == "b1"))
    agg = px.agg(
        F.count("*").alias("n"),
        F.max("col").alias("mc"),
        F.max("row").alias("mr"),
    ).collect()[0]
    assert agg["n"] == 128 * 128
    assert agg["mc"] == 127 and agg["mr"] == 127


def test_ladder_failure_paths(capsys):
    """_ladder fails a key whose rows predicate is false even when its
    runtime passes, and a key whose rows change between the first run
    and the retry: that one prints its own line and reads inf, so a
    worst-growth summary over the ratios fails as well."""
    import math

    from scale_probe import _ladder, _runtime_gate_fails

    def clean():
        return [1.0, 3.0, 9.0], [5, 50, 5]

    ratios, ok = _ladder("k_rows", clean, _runtime_gate_fails, lambda r: r[2] == 500, 10, (11, 12))
    assert not ok
    assert ratios == [3.0, 3.0]
    out = capsys.readouterr().out
    assert out == "k_rows         1.00s     3.00s     9.00s         3.0x          3.0x\n"

    calls = []

    def unstable():
        calls.append(1)
        return [0.2, 8.0, 320.0], [1, 2, len(calls)]

    ratios, ok = _ladder("k_unstable", unstable, _runtime_gate_fails, lambda r: True, 10, (11, 12))
    assert len(calls) == 2 and not ok
    assert all(math.isinf(r) for r in ratios)
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "k_unstable ROWS CHANGED BETWEEN RUNS: [1, 2, 1] vs [1, 2, 2] — nondeterministic"
    assert "gate retry" not in "\n".join(out)

    calls.clear()

    def spike_then_quiet():
        calls.append(1)
        return ([1.1, 29.7, 28.3] if len(calls) == 1 else [1.2, 11.9, 27.0]), [1, 2, 3]

    ratios, ok = _ladder("k_retry", spike_then_quiet, _runtime_gate_fails, lambda r: True, 10, (11, 12))
    assert ok and len(calls) == 2
    out = capsys.readouterr().out.splitlines()
    assert out[1] == "  ^ gate retry: first sample 1.10s 29.70s 28.30s; gated on the retry ladder as measured"
