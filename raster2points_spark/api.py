"""Public API — mirrors the reference's two entry points.

reference (reconstructed, SURVEY §0):
    raster2points/raster2points.py::raster2df(*rasters, col_names=None,
        max_block_size=4096, calc_area=False) -> pandas.DataFrame
    raster2points/raster2points.py::raster2csv(*rasters, output, ...)

here:
    raster2df(spark, tiles, bands=None, ...)  -> pyspark DataFrame (lazy)
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

Like the reference, a conversion plans from metadata first: one
:func:`band_catalog` per call records every band's grid, resolution,
CRS, dtype and pixel count, and the checks, dtype casts and task
sizing all read it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raster2points_spark.io import write_csv
from raster2points_spark.operators.grid import (
    NUMPY_TO_SPARK_DTYPE,
    project_points,
    raster2points,
    validate_band_alignment,
)
from raster2points_spark.sources import minitiff
from raster2points_spark.sources.tiles import read_tiles

_TIF = (".tif", ".tiff")


def _tif_paths(tiles) -> list[str] | None:
    """The GeoTIFF paths ``tiles`` names, or None for a tile table.  A
    ``.tif``/``.tiff`` path is one; a list must hold only such paths."""
    if isinstance(tiles, (list, tuple)):
        other = [p for p in tiles if not str(p).lower().endswith(_TIF)]
        if other:
            raise ValueError(
                f"a list of inputs must be GeoTIFF paths (.tif/.tiff), got {other}; "
                "a tile table is one parquet path or DataFrame"
            )
        return list(tiles)
    if isinstance(tiles, str) and tiles.lower().endswith(_TIF):
        return [tiles]
    return None


@dataclass(frozen=True)
class Band:
    """One band's metadata, read before any pixel."""

    width: int  # grid extent in pixels (tile tables: max col_off + width)
    height: int
    transforms: tuple[tuple[float, ...], ...]  # distinct affines; one per GeoTIFF band
    crs: str | None  # "EPSG:<code>"; None when unknown (tile tables carry none)
    dtype: str | None  # source numpy dtype name; None when undeclared
    n_px: int
    src: tuple[minitiff.MiniTiff, int] | None = None  # GeoTIFF header, sample index

    @property
    def resolutions(self) -> list[tuple[float, float]]:
        return sorted({(t[0], t[4]) for t in self.transforms})


def band_catalog(spark: SparkSession, tiles) -> dict[str, Band]:
    """band_id → :class:`Band` for every band ``tiles`` provides, in
    positional order.  GeoTIFF paths: one pass over the full-resolution
    headers on the driver, no Spark job; bands are b1..bN across files
    and samples, and an unparseable header raises the reader's
    ValueError.  Tile tables: one ``groupBy(band_id)`` aggregate over
    the metadata columns (column pruning keeps the payload unread);
    band ids in numeric-aware order (b2 before b10), and a band
    declaring conflicting dtypes (a corrupt table) or an unknown one
    raises."""
    paths = _tif_paths(tiles)
    if paths is not None:
        hdrs = [minitiff.read_header(p) for p in paths]
        return {
            b: Band(h.width, h.height, (tuple(h.transform),), h.crs,
                    np.dtype(h.dtype).name, h.width * h.height, (h, s))
            for h, names in zip(hdrs, minitiff._band_names(hdrs, None))
            for s, b in enumerate(names)
        }
    tdf = _as_tiles(spark, tiles)
    dtypes = F.collect_set("dtype") if "dtype" in tdf.columns else F.array().cast("array<string>")
    rows = (
        tdf.groupBy("band_id")
        .agg(
            F.max(F.col("col_off") + F.col("width")).alias("w"),
            F.max(F.col("row_off") + F.col("height")).alias("h"),
            F.collect_set("transform").alias("ts"),
            dtypes.alias("dts"),
            F.sum(F.col("width").cast("long") * F.col("height")).alias("n_px"),
        )
        .collect()
    )
    for r in rows:
        d = sorted(r.dts)
        if len(d) > 1:
            raise ValueError(f"band {r.band_id!r} declares conflicting dtypes ({d[0]!r} vs {d[1]!r})")
        if d and d[0] not in NUMPY_TO_SPARK_DTYPE:
            raise ValueError(f"band {r.band_id!r} has unknown dtype {d[0]!r}")
    return {
        r.band_id: Band(r.w, r.h, tuple(sorted(map(tuple, r.ts))), None, (r.dts or [None])[0], r.n_px)
        for r in sorted(rows, key=lambda r: (len(r.band_id), r.band_id))
    }


def select_bands(catalog: dict[str, Band], bands: list[str] | None) -> list[str]:
    """``bands``, or every band of ``catalog`` when None.  A band the
    catalog lacks raises ValueError naming the bands it has."""
    bands = list(catalog) if bands is None else list(bands)
    if not bands:
        raise ValueError("need at least one band")
    unknown = [b for b in bands if b not in catalog]
    if unknown:
        raise ValueError(f"unknown band(s) {unknown}; present: {list(catalog)}")
    return bands


def _check_alignment(catalog: dict[str, Band], bands: list[str]) -> None:
    """Reference parity: raster2df refuses rasters of unequal resolution
    before reading any pixel.  Mixed CRSs refuse too — pixel grids in
    different reference systems never co-tile — but a band without a
    geokey directory (crs None) is CRS-unknown, not CRS-conflicting.
    GeoTIFF bands must also share one grid (dims and transform); tile
    tables are checked per tile_id instead (validate_band_alignment)."""
    sel = [catalog[b] for b in bands]
    crss = {c.crs for c in sel} - {None}
    if len(crss) > 1:
        raise ValueError(
            f"rasters carry different CRSs {sorted(crss)} — bands "
            "would zip pixels from different reference systems; "
            "reproject to a common CRS first (raster_reproject_nn "
            "is the in-engine resampler)"
        )
    for b, c in zip(bands, sel):
        if len(c.resolutions) > 1:
            raise ValueError(f"band {b!r} mixes pixel resolutions: {c.resolutions}")
    if len({c.resolutions[0] for c in sel}) > 1:
        raise ValueError(
            "bands have unequal resolutions: "
            + ", ".join(f"{b}={c.resolutions[0]}" for b, c in zip(bands, sel))
            + " — the reference refuses mixed-resolution inputs; resample to "
            "a common grid first (the raster_mosaic_hetero query is the "
            "composed resample-then-mosaic escape hatch)"
        )
    geo = {(c.width, c.height, c.transforms[0]) for c in sel if c.src}
    if len(geo) > 1:
        raise ValueError(
            "rasters do not co-tile (differing dims/transform "
            f"{sorted(geo)}) — bands would zip tiles from different "
            "places; resample to a common grid first"
        )


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
    bands: list[str] | None = None,
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
    writing.  ``bands=None`` converts every band the inputs provide
    (:func:`band_catalog` order); a band they lack raises ValueError
    naming the present ones.

    Everything before the conversion reads ONE :func:`band_catalog`:
    for PATH inputs the file headers (zero Spark jobs), for tile tables
    one metadata aggregate.  ``validate=True`` (default) runs the
    reference's eager pre-flight off it: unequal band resolutions,
    mixed CRSs or non-co-tiling grids raise before any pixel is read;
    tile tables add one more metadata job, the per-tile_id geometry
    check.  The catalog also gives each value column its source dtype
    and sizes ``max_block_size``.  ``dtypes`` lets a caller that built
    the tile table itself (and therefore knows each band's source
    dtype) pass them; with ``validate=False`` and ``bands`` given too,
    a tile table is then not aggregated at all.

    PATH inputs become points in ONE mapInArrow decode stage
    (minitiff.zipped_windows): each task masks band 1, reads the other
    bands at the same pixels and applies NoData and the affine in
    numpy, so the JVM gets finished points and runs one projection over
    them (dtype casts, names, area) — no tile-level join, no per-pixel
    explode.  Windows with no valid band-1 pixel are skipped before any
    other band is read.

    ``max_block_size`` keeps the reference's memory-bound knob
    (``raster2df(..., max_block_size=4096)`` bounded each processing
    window to block² pixels): here it repartitions so each TASK
    handles ≈ max_block_size² pixels of ``bands[0]``.  PATH inputs
    repartition the window list before the decode, sized from the
    header of the file providing ``bands[0]`` at the level read; tile
    tables repartition the tile table, sized from the catalog's pixel
    count.  Default None = let Spark's file splits decide (the right
    answer on a real cluster).

    ``overview_level=k`` (GeoTIFF path inputs only) extracts points
    from the k-th COG pyramid level instead of full resolution —
    1/4^k of the bytes read, transforms scaled to the level, the
    gdal_translate-on-an-overview serving shape.  The catalog still
    reads the full-res headers (levels inherit CRS, dtype and the
    alignment)."""
    paths = _tif_paths(tiles)
    tdf = None if paths is not None else _as_tiles(spark, tiles, overview_level)
    if paths is not None or validate or bands is None or dtypes is None or max_block_size:
        catalog = band_catalog(spark, paths if paths is not None else tdf)
        bands = select_bands(catalog, bands)
        if validate:
            _check_alignment(catalog, bands)
        if dtypes is None:  # value columns keep each band's SOURCE dtype
            dtypes = {b: catalog[b].dtype for b in bands if catalog[b].dtype}
    if paths is not None:
        read = [catalog[b].src for b in bands]
        if overview_level:
            read = [(minitiff.read_header(h.path, overview=overview_level), s) for h, s in read]
        n_px = read[0][0].width * read[0][0].height
        parts = _block_tasks(n_px, max_block_size) if max_block_size else None
        pts = minitiff.zipped_windows(spark, read, partitions=parts)
        if calc_area:  # AREA_SQL reads the transform of the level read
            pts = pts.withColumn("transform", F.lit(list(read[0][0].transform)))
        return project_points(pts, bands, col_names, calc_area, dtypes=dtypes)

    if validate:
        validate_band_alignment(tdf, bands)
    if max_block_size:
        tdf = tdf.repartition(_block_tasks(catalog[bands[0]].n_px, max_block_size))
    return raster2points(tdf, bands, col_names, calc_area, dtypes=dtypes)


def raster2csv(
    spark: SparkSession,
    tiles: DataFrame | str | list[str],
    bands: list[str] | None,
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
    its partition; no driver-side concat.  ``bands=None`` writes every
    band."""
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
    write_csv(df, output, sep=separator)
