"""CLI — the reference's console entry point, Spark-edition.

reference (reconstructed): ``raster2csv in1.tif [in2.tif ...] out.csv
[--col_names ...] [--separator {,|;|t}] [--calc_area]``.

here: tile-table parquet in — or, reference-style, GeoTIFF paths
(read by the pure-Python mini reader, sources/minitiff.py: classic
TIFF or BigTIFF, striped or tiled/COG incl. overview IFDs,
none/LZW/deflate/PackBits compression, predictor 1/2/3, sub-byte
(1/2/4-bit) samples, single- or multi-band chunky/planar) — CSV/
Parquet directory out:

    python -m raster2points_spark.cli TILES_PARQUET OUT_DIR \
        [--bands b1 b2] [--col-names elev slope] [--separator ';'] \
        [--calc-area] [--format csv|parquet]

    python -m raster2points_spark.cli in1.tif in2.tif OUT_DIR \
        [--col-names elev slope] ...

``--bands`` defaults to every band the inputs provide: b1..bN across
files AND samples for GeoTIFF paths, the tile table's band ids (b2
before b10) for a tile table.

``--format geotiff`` COG-ifies instead: each selected band is
re-written as its own tiled deflate GeoTIFF (optional write-time
pyramid via --overviews, sparse tiles via --sparse, BigTIFF via
--bigtiff) — gdal_translate's COG path, distributed one write task
per output file:

    python -m raster2points_spark.cli in1.tif in2.tif OUT_DIR \
        --format geotiff --tile-size 256 --overviews 2 --sparse
"""

from __future__ import annotations

import argparse

from raster2points_spark.api import raster2csv, raster2df
from raster2points_spark.io import write_parquet
from raster2points_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="raster2points-spark")
    ap.add_argument(
        "inputs",
        nargs="+",
        metavar="TILES_OR_TIF",
        help="one tile-table parquet path, or N GeoTIFF paths (one band each)",
    )
    ap.add_argument("output")
    ap.add_argument("--bands", nargs="+", default=None, help="default: every band")
    ap.add_argument("--col-names", nargs="+", default=None)
    ap.add_argument("--separator", default=",", choices=[",", ";", "t"])
    ap.add_argument("--calc-area", action="store_true")
    ap.add_argument("--format", default="csv", choices=["csv", "parquet", "geotiff"])
    ap.add_argument(
        "--tile-size",
        type=int,
        default=256,
        help="output tile edge for --format geotiff (multiple of 16)",
    )
    ap.add_argument(
        "--overviews",
        type=int,
        default=0,
        help="pyramid levels to derive at write time (--format geotiff)",
    )
    ap.add_argument(
        "--nodata-out",
        type=float,
        default=-9999.0,
        help="nodata sentinel written to the output (--format geotiff)",
    )
    ap.add_argument("--sparse", action="store_true", help="store all-nodata tiles sparse")
    ap.add_argument("--bigtiff", action="store_true", help="BigTIFF output (>4 GB files)")
    ap.add_argument(
        "--predictor",
        type=int,
        default=1,
        choices=[1, 2, 3],
        help="deflate predictor for --format geotiff: 1 none, "
        "2 horizontal diff (ints), 3 float byte shuffle",
    )
    ap.add_argument(
        "--compression",
        default="deflate",
        choices=["deflate", "lzw"],
        help="tile codec for --format geotiff output",
    )
    ap.add_argument(
        "--dtype",
        default="f8",
        choices=["f8", "f4", "i2", "u1"],
        help="sample dtype for --format geotiff output (predictor 2 "
        "needs an integer dtype, predictor 3 a float one)",
    )
    ap.add_argument(
        "--crs",
        type=int,
        default=4326,
        metavar="EPSG",
        help="EPSG code written to GeoKeyDirectoryTag for --format "
        "geotiff output (gdal_translate -a_srs parity; geographic "
        "codes get GTModelType geographic, others projected)",
    )
    ap.add_argument(
        "--overview-level",
        type=int,
        default=0,
        metavar="K",
        help="extract from the K-th COG pyramid level instead of full "
        "resolution (1/4^K of the bytes; GeoTIFF inputs, csv/parquet "
        "output only)",
    )
    ap.add_argument(
        "--max-block-size",
        type=int,
        default=None,
        help="bound each task to ~N^2 pixels (the reference's memory knob; "
        "default: let Spark's file splits decide)",
    )
    args = ap.parse_args(argv)

    # validate predictor/dtype compatibility HERE: encode_geotiff
    # raises the same ValueError, but executor-side — buried in a
    # Spark task traceback instead of a one-line usage error
    if args.predictor == 2 and args.dtype not in ("i2", "u1"):
        ap.error(
            f"--predictor 2 (horizontal diff) needs an integer --dtype "
            f"(i2/u1), got {args.dtype}"
        )
    if args.predictor == 3 and args.dtype not in ("f8", "f4"):
        ap.error(
            f"--predictor 3 (float byte shuffle) needs a float --dtype "
            f"(f8/f4), got {args.dtype}"
        )

    if args.overview_level and args.format == "geotiff":
        ap.error("--overview-level applies to extraction (csv/parquet), "
                 "not COG-ification; use --overviews to WRITE pyramids")
    # api._tif_paths tells GeoTIFF paths from a tile table, and
    # raster2df checks the bands; their ValueErrors are usage errors
    tiles = args.inputs[0] if len(args.inputs) == 1 else args.inputs
    sep = "\t" if args.separator == "t" else args.separator
    spark = get_spark("raster2points_cli")
    try:
        if args.format == "csv":
            raster2csv(
                spark, tiles, args.bands, args.output,
                col_names=args.col_names, calc_area=args.calc_area, separator=sep,
                max_block_size=args.max_block_size,
                overview_level=args.overview_level,
            )
        elif args.format == "parquet":
            df = raster2df(
                spark, tiles, args.bands, col_names=args.col_names,
                calc_area=args.calc_area, max_block_size=args.max_block_size,
                overview_level=args.overview_level,
            )
            write_parquet(df, args.output)
        else:
            _cogify(spark, tiles, args)
    except ValueError as e:
        ap.error(str(e))
    return 0


def _cogify(spark, tiles, args) -> None:
    """COG-ify: re-write each selected band as its own tiled (+ optional
    pyramid) GeoTIFF — gdal_translate's COG path, distributed (one
    write task per band/file).  Grids come from the band catalog, so
    GeoTIFF inputs are decoded once, by the write."""
    from pyspark.sql import functions as F

    from raster2points_spark.api import _as_tiles, _tif_paths, band_catalog, select_bands
    from raster2points_spark.io import local_df
    from raster2points_spark.operators.grid import grid_unpivot
    from raster2points_spark.sinks.geotiff import write_geotiffs

    if _tif_paths(tiles) is None:  # a tile parquet is read once
        tiles = _as_tiles(spark, tiles)
    catalog = band_catalog(spark, tiles)
    bands = select_bands(catalog, args.bands)
    meta = [catalog[b] for b in bands]
    # each output band needs a single grid: a tile table whose band
    # carries several transforms would leave the origin to chance
    torn = [b for b, m in zip(bands, meta) if len(m.transforms) != 1]
    if torn:
        raise ValueError(
            f"band(s) {torn} carry more than one transform across "
            "their tiles — each output band needs a single grid; "
            "split or re-grid the tile table first"
        )
    # all output files share ONE pixel scale; mixed-resolution inputs
    # would silently get band 1's grid — refuse, like the raster2df
    # pre-flight (COG-ify each resolution group alone, or resample
    # first: raster_mosaic_hetero shows the pattern)
    a, e = meta[0].resolutions[0]
    mixed = [b for b, m in zip(bands, meta) if m.resolutions != [(a, e)]]
    if mixed:
        raise ValueError(
            f"mixed pixel scales across bands ({mixed} differ from "
            f"{(a, -e)}); COG-ify each resolution group separately"
        )
    names = {}
    if args.col_names:
        # one output file per name: a repeated name would merge bands
        if len(args.col_names) != len(bands):
            raise ValueError("col_names must match bands")
        repeated = sorted({n for n in args.col_names if args.col_names.count(n) > 1})
        if repeated:
            raise ValueError(f"col_names repeat {repeated}: each band needs its own file")
        names = dict(zip(bands, args.col_names))
    # per-file dims: each band keeps ITS OWN raster's extent
    # (write_geotiffs' optional width/height origin columns) — a
    # smaller input must not roundtrip nodata-padded to the global max
    origins = local_df(
        spark,
        [
            (names.get(b, b), m.transforms[0][2], m.transforms[0][5], m.width, m.height)
            for b, m in zip(bands, meta)
        ],
        "file_id string, lon0 double, lat0 double, width int, height int",
    )
    tiles_df = _as_tiles(spark, tiles).filter(F.col("band_id").isin(bands))
    px = grid_unpivot(tiles_df).filter(F.col("value").isNotNull())
    pixels = px.select(
        F.col("band_id").alias("file_id"),
        F.lit(1).alias("band"),
        "row",
        "col",
        F.col("value").cast("double").alias("value"),
    ).replace(names, subset=["file_id"])
    manifest = write_geotiffs(
        pixels,
        args.output,
        width=max(m.width for m in meta),
        height=max(m.height for m in meta),
        pixel_scale=(float(a), float(-e)),
        origins=origins,
        nodata=args.nodata_out,
        dtype=args.dtype,
        compression=args.compression,
        tile=(args.tile_size, args.tile_size),
        sparse=args.sparse,
        bigtiff=args.bigtiff,
        overviews=args.overviews,
        predictor=args.predictor,
        crs_epsg=args.crs,
    )
    for r in sorted(manifest.collect(), key=lambda r: r.file_id):
        print(
            f"{r.path}: {r.width}x{r.height}, {r.n_valid} valid px, "
            f"{r.n_tiles} tiles ({r.n_sparse} sparse), {r.n_bytes} bytes"
        )


if __name__ == "__main__":
    raise SystemExit(main())
