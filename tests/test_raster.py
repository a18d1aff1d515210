"""Raster→points golden tests on the hand-checkable grid4 fixture
(FIXTURES.md §B) — mirrors the reference's small-GeoTIFF pytest style."""

from __future__ import annotations

import math

import pytest

from raster2points_spark.api import raster2df
from raster2points_spark.operators.grid import geodesic_area_py
from raster2points_spark.queries._util import GRID_DIR
from raster2points_spark.sources.tiles import ensure_grid_fixtures

GRID4 = f"{GRID_DIR}/grid4.parquet"

# (lon, lat, val1, val2) — hand-computed: affine [0.5,0,10,0,-0.5,45],
# pixel centers, b1 values 1..16 row-major with 11 NoData holes, b2 = 10*b1
# except the (col=2,row=2) pixel which is NoData in b2 only.
GOLDEN = [
    (10.25, 44.75, 1.0, 10.0),
    (11.75, 44.75, 4.0, 40.0),
    (10.75, 44.25, 6.0, 60.0),
    (11.25, 43.75, 11.0, None),
    (11.75, 43.25, 16.0, 160.0),
]


@pytest.fixture(scope="module")
def points(spark):
    ensure_grid_fixtures(GRID_DIR)
    return raster2df(spark, GRID4, bands=["b1", "b2"], calc_area=True)


def test_golden_rows(points):
    rows = sorted(
        ((r.lon, r.lat, r.val1, r.val2) for r in points.collect()),
        key=lambda x: (-x[1], x[0]),
    )
    assert len(rows) == 5
    for got, want in zip(rows, GOLDEN):
        assert got[0] == want[0] and got[1] == want[1]
        assert got[2] == want[2]
        assert got[3] == want[3]


def test_mask_semantics(points):
    """Band 1 masks; NoData in band 2 keeps the row with null val2."""
    rows = points.collect()
    assert all(r.val1 is not None for r in rows)
    assert sum(1 for r in rows if r.val2 is None) == 1


def test_area_matches_python_twin(points):
    for r in points.collect():
        want = geodesic_area_py(r.lat, 0.5, 0.5)
        assert math.isclose(r.area, want, rel_tol=1e-9), (r.lat, r.area, want)


def test_area_is_latitude_monotone(points):
    """Pixel area shrinks toward the poles (pure f(lat) at fixed dlon)."""
    by_lat = {r.lat: r.area for r in points.collect()}
    lats = sorted(by_lat)  # all positive (44-45°N)
    areas = [by_lat[lat] for lat in lats]
    assert areas == sorted(areas, reverse=True)


def test_col_names_and_schema(spark):
    df = raster2df(spark, GRID4, bands=["b1", "b2"], col_names=["elev", "slope"])
    assert df.columns == ["lon", "lat", "elev", "slope"]


def test_band_count_validation(spark):
    with pytest.raises(ValueError):
        raster2df(spark, GRID4, bands=[])
    with pytest.raises(ValueError):
        raster2df(spark, GRID4, bands=["b1"], col_names=["a", "b"])


def test_dtype_preservation(spark):
    """A uint8 mask band and a float32 band come out smallint/float —
    the source numpy dtype survives the float64 container (reference
    keeps per-raster dtypes in its pandas output)."""
    tf = [0.5, 0.0, 10.0, 0.0, -0.5, 45.0]
    rows = [
        ("b1", 0, 0, 0, 2, 1, tf, -9999.0, "uint8", [7.0, -9999.0]),
        ("b2", 0, 0, 0, 2, 1, tf, -9999.0, "float32", [1.5, 2.5]),
    ]
    schema = (
        "band_id string, tile_id long, col_off int, row_off int, width int, "
        "height int, transform array<double>, nodata double, dtype string, "
        "data array<double>"
    )
    tiles = spark.createDataFrame(rows, schema)
    df = raster2df(spark, tiles, bands=["b1", "b2"])
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert got["val1"] == "smallint"
    assert got["val2"] == "float"
    r = df.collect()
    assert [(x.val1, x.val2) for x in r] == [(7, 1.5)]


def test_dtype_conflict_raises(spark):
    """The band catalog's dtypes refuse a band declared with two
    dtypes, or with one no Spark type holds, before any pixel."""
    tf = [0.5, 0.0, 10.0, 0.0, -0.5, 45.0]
    schema = (
        "band_id string, tile_id long, col_off int, row_off int, width int, "
        "height int, transform array<double>, nodata double, dtype string, "
        "data array<double>"
    )
    conflicting = spark.createDataFrame(
        [
            ("b1", 0, 0, 0, 1, 1, tf, -9999.0, "uint8", [1.0]),
            ("b1", 1, 1, 0, 1, 1, tf, -9999.0, "int16", [2.0]),
        ],
        schema,
    )
    with pytest.raises(ValueError, match="conflicting dtypes"):
        raster2df(spark, conflicting, ["b1"])
    unknown = spark.createDataFrame(
        [("b1", 0, 0, 0, 1, 1, tf, -9999.0, "complex128", [1.0])], schema
    )
    with pytest.raises(ValueError, match="unknown dtype"):
        raster2df(spark, unknown, ["b1"])


def test_alignment_validation(spark):
    """Reference parity: unequal resolutions / conflicting tile
    geometry fail eagerly; the aligned fixture passes unchanged."""
    schema = (
        "band_id string, tile_id long, col_off int, row_off int, width int, "
        "height int, transform array<double>, nodata double, dtype string, "
        "data array<double>"
    )
    tf = [0.5, 0.0, 10.0, 0.0, -0.5, 45.0]
    tf_fine = [0.25, 0.0, 10.0, 0.0, -0.25, 45.0]
    # unequal resolution across bands
    bad_res = spark.createDataFrame(
        [
            ("b1", 0, 0, 0, 2, 1, tf, -9999.0, "float64", [1.0, 2.0]),
            ("b2", 0, 0, 0, 2, 1, tf_fine, -9999.0, "float64", [1.0, 2.0]),
        ],
        schema,
    )
    with pytest.raises(ValueError, match="unequal resolutions"):
        raster2df(spark, bad_res, bands=["b1", "b2"])
    # same resolution but conflicting per-tile geometry (shifted offset)
    bad_geom = spark.createDataFrame(
        [
            ("b1", 0, 0, 0, 2, 1, tf, -9999.0, "float64", [1.0, 2.0]),
            ("b2", 0, 2, 0, 2, 1, tf, -9999.0, "float64", [1.0, 2.0]),
        ],
        schema,
    )
    with pytest.raises(ValueError, match="conflicting geometry"):
        raster2df(spark, bad_geom, bands=["b1", "b2"])
    # one band mixing resolutions is caught even alone
    bad_mix = spark.createDataFrame(
        [
            ("b1", 0, 0, 0, 2, 1, tf, -9999.0, "float64", [1.0, 2.0]),
            ("b1", 1, 2, 0, 2, 1, tf_fine, -9999.0, "float64", [1.0, 2.0]),
        ],
        schema,
    )
    with pytest.raises(ValueError, match="mixes pixel resolutions"):
        raster2df(spark, bad_mix, bands=["b1"])
    # the committed aligned fixture passes
    assert raster2df(spark, _read_grid4(spark), ["b1", "b2"]).count() == 5


def _read_grid4(spark):
    from raster2points_spark.sources.tiles import read_tiles

    ensure_grid_fixtures(GRID_DIR)
    return read_tiles(spark, GRID4)


def test_missing_band_tile_keeps_mask_rows(spark):
    """A tile entirely absent from a secondary band must NOT drop the
    mask band's pixels (r1 bug: arrays_zip(d0, NULL) is NULL, so the
    posexplode emitted zero rows).  The contract is the same as per-
    pixel NoData: the row stays, with NULL in the missing column."""
    from raster2points_spark.operators.grid import raster2points

    tf = [0.5, 0.0, 10.0, 0.0, -0.5, 45.0]
    rows = [
        ("b1", 0, 0, 0, 2, 1, tf, -9999.0, [1.0, -9999.0]),
        ("b1", 1, 2, 0, 2, 1, tf, -9999.0, [3.0, 4.0]),
        ("b2", 0, 0, 0, 2, 1, tf, -9999.0, [10.0, -9999.0]),
        # tile 1 has no b2 row at all
    ]
    schema = (
        "band_id string, tile_id long, col_off int, row_off int, width int, "
        "height int, transform array<double>, nodata double, data array<double>"
    )
    tiles = spark.createDataFrame(rows, schema)
    pts = raster2points(tiles, ["b1", "b2"]).collect()
    assert sorted((r.val1, r.val2) for r in pts) == [
        (1.0, 10.0),
        (3.0, None),
        (4.0, None),
    ]


def test_geotiff_window_grid():
    """The window grid the GeoTIFF reader lays over each raster is the
    reference's block-window generator — row-major ids, clipped edge
    tiles, full coverage."""
    from raster2points_spark.sources.geotiff import window_grid

    grid = window_grid(10, 7, 4)  # 3x2 tiles, ragged edges
    assert [g["tile_id"] for g in grid] == list(range(6))
    assert grid[2] == {"tile_id": 2, "col_off": 8, "row_off": 0, "width": 2, "height": 4}
    assert grid[5] == {"tile_id": 5, "col_off": 8, "row_off": 4, "width": 2, "height": 3}
    assert sum(g["width"] * g["height"] for g in grid) == 70
    with pytest.raises(ValueError):
        window_grid(0, 7, 4)


def test_zonemap_prunes_tiles_before_explode(spark, registry):
    # the zone map must drop 13 of 16 tiles BEFORE the posexplode:
    # only tiles whose valid-max can satisfy v >= 25 survive
    import re

    from raster2points_spark.plans import explain_formatted

    df = registry["raster_tile_zonemap"].fn(spark, "/root/testdata/sf0.001")
    plan = explain_formatted(df)
    assert re.search(r"^\(\d+\) Generate", plan, re.M), "explode must exist"
    # the tile-level skip is the array_max(filter(...)) >= 25 FILTER —
    # it must run on the packed tile relation (below the Generate):
    # in the formatted tree the Generate's Input carries vmax only if
    # the filter already happened, and no per-pixel column exists yet
    m = re.search(r"\(\d+\) Filter[^\n]*\n(?:[^\n]*\n)*?Condition[^\n]*array_max", plan)
    assert m, "zone-map filter must appear as a Filter node over the packed tiles"
    # and that Filter must sit BELOW the Generate (pruning before the
    # 256x explode): formatted-plan details number leaf-first, so the
    # tile-level Filter's detail block prints before the Generate's
    g = re.search(r"^\(\d+\) Generate", plan, re.M)
    assert g and m.start() < g.start(), "zone-map filter must run below the Generate"
    (row,) = df.collect()
    # golden: 3 surviving tiles x 256 px minus nodata/below-threshold
    assert row.n == 348 and float(row.min_v) == 25.0


def test_utm_forward_matches_independent_python(spark, registry):
    """fn_utm_forward vs the Python twin of the Snyder series
    (operators/projection.utm_forward_py: Python math module, an
    independent libm path from both Spark's JVM StrictMath and DuckDB):
    every pixel's easting/northing must agree to the key's own mm
    rounding."""
    from raster2points_spark.queries.raster import _band_pixels, _tiles
    from raster2points_spark.operators.grid import affine_coords
    from raster2points_spark.operators.projection import utm_forward_py

    sf = "/root/testdata/sf0.001"
    got = {
        (r.tile_id, r.row, r.col): (r.easting, r.northing)
        for r in registry["fn_utm_forward"].fn(spark, sf).collect()
    }
    pts = affine_coords(_band_pixels(_tiles(spark, sf))).select(
        "tile_id", "row", "col", "lon", "lat"
    ).collect()
    assert len(pts) == len(got) > 0
    for p in pts:
        x, y = utm_forward_py(p.lon, p.lat, -21.0)
        gx, gy = got[(p.tile_id, p.row, p.col)]
        assert abs(gx - x) < 2e-3 and abs(gy - y) < 2e-3, (p, (x, y), (gx, gy))
        # zone plausibility: the fixture sits east of the 21°W CM
        assert 500000 < gx < 800000 and 6.2e6 < gy < 6.8e6


def test_gaussian_sep_plan_is_two_pass(spark, registry):
    """raster_focal_gaussian_sep must ship the SEPARABLE plan: exactly
    two 5-tap Generate (explode) scatters and two hash-aggregate
    gathers — never the direct 25-term cross join the oracle uses."""
    import re

    import pyspark.sql.functions as F

    from raster2points_spark.plans import explain_formatted

    df = registry["raster_focal_gaussian_sep"].fn(spark, "/root/testdata/sf0.001")
    plan = explain_formatted(df)
    # grid_unpivot contributes its own posexplode; the two kernel
    # scatters add exactly two more Generate nodes
    gens = re.findall(r"^\(\d+\) Generate", plan, re.M)
    assert len(gens) == 3, f"expected unpivot + 2 kernel scatters, got {len(gens)}"
    uniform = df.filter(F.col("gauss").isNotNull())
    assert uniform.count() == 265  # pinned at the committed fixture
