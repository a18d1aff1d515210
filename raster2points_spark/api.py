"""Public API — mirrors the reference's two entry points.

reference (reconstructed, SURVEY §0):
    raster2points/raster2points.py::raster2df(*rasters, col_names=None,
        max_block_size=4096, calc_area=False) -> pandas.DataFrame
    raster2points/raster2points.py::raster2csv(*rasters, output, ...)

here:
    raster2df(spark, tiles, bands, ...)  -> pyspark DataFrame (lazy)
    raster2csv(spark, tiles, bands, output, separator=",", ...)

Inputs are tile tables (path or DataFrame) — the scale-native landing
format (see sources/tiles.py) — or, reference-style, GeoTIFF paths
(a ``.tif`` path or a list of them): those convert through the
dependency-free reader in sources/minitiff.py (classic TIFF or
BigTIFF, striped or tiled, LZW/deflate/PackBits/uncompressed,
predictor 1/2/3, single- or multi-band, COG overview levels).
Tiling replaces ``max_block_size``: the tile table is
already blocked, and Spark partitioning replaces the reference's
parallelpipe workers.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raster2points_spark.operators.grid import (
    band_dtypes,
    project_points,
    raster2points,
    validate_band_alignment,
)
from raster2points_spark.sources import minitiff
from raster2points_spark.sources.tiles import read_tiles


def _tif_paths(tiles) -> list[str] | None:
    """The GeoTIFF paths ``tiles`` names, or None for a tile table."""
    if isinstance(tiles, (list, tuple)):
        return list(tiles)
    if isinstance(tiles, str) and tiles.lower().endswith((".tif", ".tiff")):
        return [tiles]
    return None


def _paths_preflight(
    paths: list[str], validate: bool = True
) -> dict[str, tuple[minitiff.MiniTiff, int]]:
    """Pre-flight for GeoTIFF PATH inputs: the file headers already
    hold everything validate_band_alignment and band_dtypes would
    learn from Spark jobs over a tile table, so the checks run on the
    driver off the headers: sub-ms local reads, zero Spark jobs.

    Returns band_id → (full-resolution header of the file providing
    that band, the band's sample index in that file), in positional
    order (b1..bN across files and samples).  A header the reader
    cannot parse raises the reader's ValueError.  Validation failures
    raise too, matching validate_band_alignment's contract: unequal
    resolutions or non-co-tiling grids (different dims/transform)
    refuse before any pixel is read."""
    hdrs = [minitiff.read_header(p) for p in paths]
    if validate:  # validate=False still wants the band map, not the raises
        # mixed CRS refuses like mixed resolution: pixel (row, col)
        # grids in different reference systems never co-tile, and a
        # silent zip would join coordinates from different datums.
        # Files WITHOUT a geokey directory (crs None) pass — the
        # pre-geokey layout is CRS-unknown, not CRS-conflicting.
        crss = {h.crs for h in hdrs if h.crs is not None}
        if len(crss) > 1:
            raise ValueError(
                f"rasters carry different CRSs {sorted(crss)} — bands "
                "would zip pixels from different reference systems; "
                "reproject to a common CRS first (raster_reproject_nn "
                "is the in-engine resampler)"
            )
        res = {(h.transform[0], h.transform[4]) for h in hdrs}
        if len(res) > 1:
            raise ValueError(
                f"rasters have unequal resolutions {sorted(res)} — the "
                "reference refuses mixed-resolution inputs; resample to "
                "a common grid first (the raster_mosaic_hetero query is "
                "the composed resample-then-mosaic escape hatch)"
            )
        geo = {(h.width, h.height, tuple(h.transform)) for h in hdrs}
        if len(geo) > 1:
            raise ValueError(
                "rasters do not co-tile (differing dims/transform "
                f"{sorted(geo)}) — bands would zip tiles from different "
                "places; resample to a common grid first"
            )
    return {
        b: (hdr, sample)
        for hdr, file_bands in zip(hdrs, minitiff._band_names(hdrs, None))
        for sample, b in enumerate(file_bands)
    }


def _as_tiles(spark: SparkSession, tiles, overview_level: int = 0) -> DataFrame:
    """Tile table for ``tiles``: GeoTIFF paths decode through the mini
    reader (``overview_level=k`` reads the k-th COG pyramid level), a
    parquet path is read, a DataFrame passes through."""
    paths = _tif_paths(tiles)
    if paths is not None:
        return minitiff.minitiff_to_tiles(spark, paths, overview_level=overview_level)
    if overview_level:
        raise ValueError("overview_level is only valid for GeoTIFF path inputs")
    return read_tiles(spark, tiles) if isinstance(tiles, str) else tiles


def _block_tasks(n_px: int, max_block_size: int) -> int:
    """Tasks that each handle ≈ max_block_size² of ``n_px`` pixels."""
    return max(1, math.ceil(n_px / float(max_block_size) ** 2))


def raster2df(
    spark: SparkSession,
    tiles: DataFrame | str | list[str],
    bands: list[str],
    col_names: list[str] | None = None,
    calc_area: bool = False,
    max_block_size: int | None = None,
    validate: bool = True,
    dtypes: dict[str, str] | None = None,
    overview_level: int = 0,
) -> DataFrame:
    """Convert raster bands to a point table: band 1 masks (NoData
    rows dropped), bands 2..N contribute nullable value columns,
    coordinates are pixel centers.  Lazy — compose freely before
    writing.  ``validate=True`` (default) runs the reference's eager
    pre-flight: unequal band resolutions or conflicting per-tile
    geometry raise before any pixel is read.  For PATH inputs the
    pre-flight AND the dtype lookup run driver-side off the file
    headers (``_paths_preflight``) — zero Spark jobs — and the points
    come from ONE mapInArrow decode stage (minitiff.zipped_windows):
    each task masks band 1, reads the other bands at the same pixels
    and applies NoData and the affine in numpy, so the JVM gets
    finished points and runs one projection over them (dtype casts,
    names, area) — no tile-level join, no per-pixel explode.  Windows
    with no valid band-1 pixel are skipped before any other band is
    read.  ``dtypes``
    lets a caller that built the tile table itself (and therefore
    knows each band's source dtype) skip the metadata lookup job.

    ``max_block_size`` keeps the reference's memory-bound knob
    (``raster2df(..., max_block_size=4096)`` bounded each processing
    window to block² pixels): here it repartitions so each TASK
    handles ≈ max_block_size² pixels of ``bands[0]``.  PATH inputs
    repartition the window list before the decode, sized from the
    header of the file providing ``bands[0]``; tile tables repartition
    the tile table, sized from its METADATA columns (width·height, a
    pruned scan that never touches the data arrays).  Default None =
    let Spark's file splits decide (the right answer on a real
    cluster).

    ``overview_level=k`` (GeoTIFF path inputs only) extracts points
    from the k-th COG pyramid level instead of full resolution —
    1/4^k of the bytes read, transforms scaled to the level, the
    gdal_translate-on-an-overview serving shape.  Alignment and dtype
    pre-flight still run on the full-res headers (levels inherit
    both)."""
    if not bands:
        raise ValueError("need at least one band")
    paths = _tif_paths(tiles)
    if paths is not None:
        # raises on misaligned rasters ONLY when validate=True; with
        # validate=False the headers still supply the band map
        srcs = _paths_preflight(paths, validate=validate)
        unknown = [b for b in bands if b not in srcs]
        if unknown:
            raise ValueError(
                f"unknown band(s) {unknown} — these files provide {sorted(srcs)}"
            )
        if dtypes is None:
            dtypes = {
                b: minitiff._DTYPE_NAMES[srcs[b][0].dtype.lstrip("<>")] for b in bands
            }
        read = [srcs[b] for b in bands]
        if overview_level:
            read = [(minitiff.read_header(h.path, overview=overview_level), s) for h, s in read]
        parts = None
        if max_block_size:
            parts = _block_tasks(read[0][0].width * read[0][0].height, max_block_size)
        pts = minitiff.zipped_windows(spark, read, partitions=parts)
        if calc_area:  # AREA_SQL reads the transform of the level read
            pts = pts.withColumn("transform", F.lit(list(read[0][0].transform)))
        return project_points(pts, bands, col_names, calc_area, dtypes=dtypes)

    tdf = _as_tiles(spark, tiles, overview_level=overview_level)
    if validate:
        validate_band_alignment(tdf, bands)
    if max_block_size:
        n_px = (
            tdf.filter(F.col("band_id") == bands[0])
            .agg(F.sum(F.col("width").cast("long") * F.col("height")))
            .first()[0]
            or 0
        )
        tdf = tdf.repartition(_block_tasks(n_px, max_block_size))
    # dtype lookup (metadata-only for columnar tile tables; None for
    # pre-dtype tables) — value columns come out in each band's SOURCE
    # numpy dtype, like the reference's pandas frames (SURVEY §1.1(5))
    if dtypes is None:
        dtypes = band_dtypes(tdf, bands)
    return raster2points(tdf, bands, col_names, calc_area, dtypes=dtypes)


def raster2csv(
    spark: SparkSession,
    tiles: DataFrame | str | list[str],
    bands: list[str],
    output: str,
    col_names: list[str] | None = None,
    calc_area: bool = False,
    separator: str = ",",
    max_block_size: int | None = None,
    validate: bool = True,
    overview_level: int = 0,
) -> None:
    """CSV sink variant (the reference CLI's contract: ``,``/``;``/tab
    separators).  Writes a directory of part files — each task streams
    its partition; no driver-side concat."""
    df = raster2df(
        spark,
        tiles,
        bands,
        col_names,
        calc_area,
        max_block_size,
        validate,
        overview_level=overview_level,
    )
    df.write.mode("overwrite").option("sep", separator).option("header", "true").csv(output)
