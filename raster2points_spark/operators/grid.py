"""Raster→points core operators (SURVEY.md §2.2).

The reference's dataflow (raster2points/raster2points.py::raster2df —
reconstructed; /root/reference was empty, SURVEY §0) is:

    windows → read block → mask NoData (band 1) → affine lon/lat →
    read bands 2..N for same window → [geodesic area] → pandas chunk →
    concat / CSV append

The point formula exists twice here, and the two forms are pinned to
each other bit for bit (tests/test_properties.py):

* as SQL text (LON_SQL/LAT_SQL, the ``CASE`` NoData test) for TILE
  TABLES (§1.2 schema: one row per tile, dense payload as
  array<double>), whose pixels already sit in the JVM.  Each stage is
  a DataFrame transformation, so Catalyst pipelines the whole thing
  per partition; every operator is embarrassingly parallel per tile
  except the multi-band zip, an equi-join on tile_id —
  co-partitionable by tile_id (bucketed layout at scale ⇒
  shuffle-free) — ahead of one posexplode;
* in numpy (:func:`points_from_windows`) for GeoTIFF PATHS, whose
  decode task already holds every band's window as an array: it masks
  and places the pixels there and hands Spark finished point batches,
  so only surviving points cross into the JVM.

Both routes end in :func:`project_points` (dtype casts, output names,
AREA_SQL).  Nothing ever materializes a full raster.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: WGS84 semi-major axis, metres — radius used for geodesic pixel area.
WGS84_RADIUS = 6378137.0

#: numpy source dtype → narrowest Spark SQL type that holds it.  The
#: tile payload travels as array<double> (the container type); value
#: columns are cast back so e.g. a uint8 land-cover raster emits an
#: integer column, not 8×-inflated doubles (reference keeps per-raster
#: numpy dtypes in its pandas output — SURVEY §1.1(5)/§1.2).
NUMPY_TO_SPARK_DTYPE = {
    "int8": "tinyint",
    "uint8": "smallint",
    "int16": "smallint",
    "uint16": "int",
    "int32": "int",
    "uint32": "bigint",
    "int64": "bigint",
    "float32": "float",
    "float64": "double",
}


def validate_band_alignment(tiles: DataFrame, bands: list[str]) -> None:
    """Co-tiling check over a tile table: a tile_id shared by several
    of ``bands`` must have identical geometry (col_off, row_off, width,
    height, transform) in each — a silent positional zip of
    differently placed tiles would produce wrong points, so it is an
    error, not a NULL.  One METADATA-only aggregate with one shuffle
    (the payload column is never scanned): the geometries of a tile_id
    differ iff their min and max differ.  Tiles entirely MISSING from a
    secondary band are fine (the documented keep-with-NULL contract).
    Resolutions are checked off the band catalog (api.band_catalog).
    """
    geom = F.struct("col_off", "row_off", "width", "height", "transform")
    bad = (
        tiles.filter(F.col("band_id").isin(list(bands)))
        .groupBy("tile_id")
        .agg(F.min(geom).alias("lo"), F.max(geom).alias("hi"))
        .filter(~F.col("lo").eqNullSafe(F.col("hi")))
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"tile {bad[0].tile_id} has conflicting geometry across bands "
            f"{sorted(bands)} — bands must be co-tiled (same offsets/size/"
            "transform per tile_id)"
        )


def grid_unpivot(tiles: DataFrame) -> DataFrame:
    """Dense→sparse melt: explode each tile's row-major payload into
    one row per pixel with absolute (row, col) plus the value, NoData
    mapped to NULL (Spark-native null beats carrying a sentinel).

    Mirrors the per-window ``np.where``/flatten step of the reference
    (::raster2df), as a single JVM-side posexplode — no Python.
    """
    ex = tiles.select(
        "band_id",
        "tile_id",
        "col_off",
        "row_off",
        "width",
        "transform",
        "nodata",
        F.posexplode("data").alias("pos", "raw"),
    )
    return ex.select(
        "band_id",
        "tile_id",
        "pos",
        "transform",
        (F.col("col_off") + F.col("pos") % F.col("width")).alias("col"),
        (F.col("row_off") + F.floor(F.col("pos") / F.col("width")).cast("int")).alias("row"),
        F.when(F.col("raw") == F.col("nodata"), F.lit(None)).otherwise(F.col("raw")).alias(
            "value"
        ),
    )


def nodata_filter(pixels: DataFrame, value_col: str = "value") -> DataFrame:
    """Band-1 mask: a pixel becomes an output row iff its mask-band
    value is valid (reference semantics: first raster is the mask)."""
    return pixels.filter(F.col(value_col).isNotNull())


#: Pixel-centre coordinates from the row-major affine ``transform``
#: (a, b, c, d, e, f) and a pixel's absolute ``col``/``row``, as SQL text
#: — the one definition every projection uses:
#: lon = c + (col+0.5)·a + (row+0.5)·b, lat = f + (col+0.5)·d + (row+0.5)·e
#: (pixel-CENTER, like rasterio.transform.xy(..., offset='center') in
#: the reference).
LON_SQL = "transform[2] + (col + 0.5D) * transform[0] + (row + 0.5D) * transform[1]"
LAT_SQL = "transform[5] + (col + 0.5D) * transform[3] + (row + 0.5D) * transform[4]"


def valid_pixels(a, nodata: float):
    """Boolean array: the pixels of float64 ``a`` that hold data — not
    NaN and not ``nodata`` (NaN when none is declared), compared in
    float64 like the SQL ``CASE``."""
    import numpy as np

    return ~np.isnan(a) & (a != nodata)


def points_from_windows(mask, others, nodata, transform, col_off, row_off):
    """LON_SQL/LAT_SQL and the band-1 mask in numpy: one window's
    points as an Arrow batch ``lon, lat, v0, …, vN`` (float64).

    ``mask`` is band 1's window as a 2-D float64 array whose top-left
    pixel is (``col_off``, ``row_off``) of the raster; ``others`` holds
    bands 2..N over the same pixels (same shape, or None when a band
    has no such window); ``nodata`` has one entry per band, band 1's
    first.  Only pixels that :func:`valid_pixels` keeps in band 1
    become rows, in row-major order like the posexplode; NaN or
    ``nodata`` values of bands 2..N, and every value of a missing
    window, come out NULL.  lon/lat use LON_SQL/LAT_SQL's operation
    order on the same doubles, so both routes place a pixel at the
    same bits."""
    import numpy as np
    import pyarrow as pa

    idx = np.flatnonzero(valid_pixels(mask, nodata[0]))  # row-major, like pos
    h, w = mask.shape
    col = np.arange(w) + col_off + 0.5
    row = np.arange(h) + row_off + 0.5
    a, b, c, d, e, f = transform
    # (c + col·a) + row·b per pixel, LON_SQL's order, as one grid add
    lon = (c + col * a)[None, :] + (row * b)[:, None]
    lat = (f + col * d)[None, :] + (row * e)[:, None]
    arrays = [pa.array(x.ravel()[idx]) for x in (lon, lat, mask)]
    for other, nd in zip(others, nodata[1:]):
        if other is None:
            arrays.append(pa.nulls(len(idx), pa.float64()))
        else:
            v = other.ravel()[idx]
            arrays.append(pa.array(v, mask=~valid_pixels(v, nd)))
    return pa.RecordBatch.from_arrays(
        arrays, names=["lon", "lat", *(f"v{i}" for i in range(len(arrays) - 2))]
    )


#: Geodesic pixel area in m² from ``lat`` and ``transform`` (the
#: reference computes one area per row of pixels; same formula here,
#: applied per pixel):
#:     area = |Δlon_rad| · R² · |sin(lat + |Δlat|/2) − sin(lat − |Δlat|/2)|
#: with R the WGS84 semi-major axis, R² a double literal.
AREA_SQL = (
    f"radians(abs(transform[0])) * {WGS84_RADIUS * WGS84_RADIUS!r}D * "
    "abs(sin(radians(lat + abs(transform[4]) / 2)) - sin(radians(lat - abs(transform[4]) / 2)))"
)


def _quote(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def affine_coords(pixels: DataFrame) -> DataFrame:
    """Add pixel-centre ``lon``/``lat`` (LON_SQL/LAT_SQL) to rows that
    carry ``transform``, ``col`` and ``row``."""
    return pixels.withColumns({"lon": F.expr(LON_SQL), "lat": F.expr(LAT_SQL)})


def geodesic_area_py(lat: float, dlon: float, dlat: float) -> float:
    """Driver-side twin of AREA_SQL for golden tests."""
    r2 = WGS84_RADIUS * WGS84_RADIUS
    return abs(
        math.radians(abs(dlon))
        * r2
        * (math.sin(math.radians(lat + abs(dlat) / 2)) - math.sin(math.radians(lat - abs(dlat) / 2)))
    )


def raster2points(
    tiles: DataFrame,
    bands: list[str],
    col_names: list[str] | None = None,
    calc_area: bool = False,
    extra_cols: tuple[str, ...] = (),
    dtypes: dict[str, str] | None = None,
) -> DataFrame:
    """Full reference pipeline over a TILE TABLE: band 1 masks, bands
    2..N contribute nullable value columns, output
    (lon, lat, val…[, area][, extra_cols]).

    Equivalent of raster2points/raster2points.py::raster2df
    (reconstructed), Spark-first and shuffle-minimal: bands are zipped
    at TILE granularity (an equi-join of narrow dense rows on tile_id —
    64 rows join 64 rows, broadcastable at any band count), then
    :func:`zipped_points` explodes the zipped payloads.  (The reference
    requires equal resolution across rasters, so co-tiling is a
    precondition, exactly as there.)  A joined tile whose window
    (col_off, row_off, width) differs from band 1's raises, once per
    tile, instead of zipping pixels from different places — the case
    ``validate=False`` lets through for rasters of other dims.  A
    shorter or taller tile of the same width zips correctly by
    position.  GeoTIFF path inputs take no part in this: their decode
    emits points itself (sources/minitiff.py::zipped_windows).
    """
    if not bands:
        raise ValueError("need at least one band")
    joined = tiles.filter(F.col("band_id") == bands[0]).select(
        "tile_id",
        "col_off",
        "row_off",
        "width",
        "transform",
        F.col("nodata").alias("nd0"),
        F.col("data").alias("d0"),
    )
    cols = ["tile_id", "col_off", "row_off", "width", "transform", "nd0", "d0"]
    for i, b in enumerate(bands[1:], 1):
        other = tiles.filter(F.col("band_id") == b).select(
            "tile_id",
            F.col("nodata").alias(f"nd{i}"),
            F.col("data").alias(f"d{i}"),
            *(F.col(c).alias(f"{c}{i}") for c in ("col_off", "row_off", "width")),
        )
        joined = joined.join(other, "tile_id", "left")
        same = f"col_off{i} = col_off AND row_off{i} = row_off AND width{i} = width"
        msg = (
            "format_string('band %s tile %d covers (col_off, row_off, width) (%d, %d, %d), band"
            f" %s (%d, %d, %d); bands must be co-tiled', {_sql_str(b)}, tile_id, col_off{i},"
            f" row_off{i}, width{i}, {_sql_str(bands[0])}, col_off, row_off, width)"
        )
        cols += [
            f"nd{i}",
            f"CASE WHEN col_off{i} IS NULL OR ({same}) THEN d{i} ELSE raise_error({msg}) END"
            f" AS d{i}",
        ]
    return zipped_points(joined.selectExpr(*cols), bands, col_names, calc_area, extra_cols, dtypes)


def zipped_points(
    zipped: DataFrame,
    bands: list[str],
    col_names: list[str] | None = None,
    calc_area: bool = False,
    extra_cols: tuple[str, ...] = (),
    dtypes: dict[str, str] | None = None,
) -> DataFrame:
    """The JVM explode/mask/affine core of the tile-table route:
    band-zipped window rows (tile_id, col_off, row_off, width,
    transform, nd0, d0, …, ndN, dN; d{i} the row-major payload of
    ``bands[i]``, NULL when that band has no such window) → points.
    ONE posexplode of the arrays_zip'd payloads melts all bands
    together; the per-pixel stream is never shuffled — mask, affine,
    area and the sink all pipeline inside the same stage.  Its numpy
    twin is :func:`points_from_windows`.

    The plan is SQL-text projections — the explode (NULL-padding
    missing payloads), then the NoData ``CASE`` per band, ``col``/``row``
    and LON_SQL/LAT_SQL with the band-1 mask as a ``where``, then
    :func:`project_points` — so building it costs about a hundred py4j
    round trips instead of one per Column node.
    """
    # A window absent from a secondary band leaves d{i} NULL, and
    # arrays_zip(d0, NULL) is NULL — posexplode would then emit ZERO
    # rows, silently dropping every band-1 pixel of that window.
    # Coalesce each missing payload to an all-NULL array of the mask
    # band's length so the contract holds: NoData/absence in bands 2..N
    # keeps the row with NULL.  arrays_zip names the struct field of a
    # bare column after it (d0) and of any other expression by its
    # position (`1`, `2`, …).
    pads = ["d0"] + [
        f"coalesce(d{i}, array_repeat(cast(null AS double), size(d0)))"
        for i in range(1, len(bands))
    ]
    ex = zipped.selectExpr(
        "tile_id",
        "col_off",
        "row_off",
        "width",
        "transform",
        *[f"nd{i}" for i in range(len(bands))],
        f"posexplode(arrays_zip({', '.join(pads)})) AS (pos, z)",
    )
    # NoData compare happens in the container type (double);
    # project_points casts survivors back to the band's source dtype
    vals = [
        f"CASE WHEN {raw} = nd{i} THEN NULL ELSE {raw} END AS v{i}"
        for i, raw in enumerate(["z.d0", *(f"z.`{i}`" for i in range(1, len(bands)))])
    ]
    # col/row are lateral aliases: lon/lat read them in the same select
    px = ex.selectExpr(
        "tile_id",
        "transform",
        "col_off + pos % width AS col",
        "row_off + CAST(floor(pos / width) AS int) AS row",
        *vals,
        f"{LON_SQL} AS lon",
        f"{LAT_SQL} AS lat",
    ).where("v0 IS NOT NULL")
    return project_points(px, bands, col_names, calc_area, extra_cols, dtypes)


def project_points(
    px: DataFrame,
    bands: list[str],
    col_names: list[str] | None = None,
    calc_area: bool = False,
    extra_cols: tuple[str, ...] = (),
    dtypes: dict[str, str] | None = None,
) -> DataFrame:
    """The output projection both routes share: masked points (``lon,
    lat, v0, …, vN`` float64 with NoData already NULL, plus
    ``transform`` when ``calc_area``) → ``lon, lat, <col_names>[,
    area][, extra_cols]``, in one ``selectExpr``.

    ``dtypes`` maps band_id → source numpy dtype name; matching value
    columns are cast from the float64 container type back to the
    narrowest Spark type (see NUMPY_TO_SPARK_DTYPE) so output schemas
    stay faithful to the source rasters.  Area is AREA_SQL, per
    surviving point, in the JVM.
    """
    names = col_names or [f"val{i+1}" for i in range(len(bands))]
    if len(names) != len(bands):
        raise ValueError("col_names must match bands")
    cols = ["lon", "lat"]
    for i, (b, name) in enumerate(zip(bands, names)):
        v = f"v{i}"
        if dtypes and b in dtypes:
            v = f"CAST({v} AS {NUMPY_TO_SPARK_DTYPE[dtypes[b]]})"
        cols.append(f"{v} AS {_quote(name)}")
    if calc_area:
        cols.append(f"{AREA_SQL} AS area")
    return px.selectExpr(*cols, *extra_cols)
