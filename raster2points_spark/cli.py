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
        --bands b1 b2 [--col-names elev slope] [--separator ';'] \
        [--calc-area] [--format csv|parquet]

    python -m raster2points_spark.cli in1.tif in2.tif OUT_DIR \
        [--col-names elev slope] ...    # bands default to b1..bN
                                        # across files AND samples

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
    ap.add_argument("--bands", nargs="+", default=None)
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

    tif_mode = all(p.lower().endswith((".tif", ".tiff")) for p in args.inputs)
    if len(args.inputs) > 1 and not tif_mode:
        ap.error("multiple inputs are only supported for GeoTIFF paths")
    if args.overview_level and not tif_mode:
        ap.error("--overview-level needs GeoTIFF inputs")
    if args.overview_level and args.format == "geotiff":
        ap.error("--overview-level applies to extraction (csv/parquet), "
                 "not COG-ification; use --overviews to WRITE pyramids")
    tiles = args.inputs if tif_mode else args.inputs[0]
    bands = args.bands
    if bands is None and not tif_mode:
        ap.error("--bands is required for tile-table input")

    sep = "\t" if args.separator == "t" else args.separator
    spark = get_spark("raster2points_cli")

    # eager band validation: a typo'd band silently yields an empty
    # point table otherwise (the library API stays lazy; the CLI is
    # the user-facing surface, so it checks)
    from pyspark.sql import functions as F

    from raster2points_spark.api import _as_tiles, _paths_preflight

    if tif_mode:
        # the headers name the bands — positionally across files AND
        # samples — without decoding a pixel.  No co-tiling check here:
        # --format geotiff takes inputs of different dims, and
        # raster2df runs the full pre-flight for csv/parquet.
        present = list(_paths_preflight(tiles, validate=False))
    else:
        # tile table: a column-pruned scan of band_id (b2 < b10 —
        # numeric-aware sort)
        present = sorted(
            {r[0] for r in _as_tiles(spark, tiles).select("band_id").distinct().collect()},
            key=lambda b: (len(b), b),
        )
    bands = bands or present
    missing = [b for b in bands if b not in present]
    if missing:
        ap.error(f"band(s) not in the inputs: {missing}; present: {present}")
    if args.format == "csv":
        raster2csv(
            spark, tiles, bands, args.output,
            col_names=args.col_names, calc_area=args.calc_area, separator=sep,
            max_block_size=args.max_block_size,
            overview_level=args.overview_level,
        )
    elif args.format == "parquet":
        df = raster2df(
            spark, tiles, bands, col_names=args.col_names,
            calc_area=args.calc_area, max_block_size=args.max_block_size,
            overview_level=args.overview_level,
        )
        df.write.mode("overwrite").parquet(args.output)
    else:
        # COG-ify: re-write each selected band as its own tiled
        # (+ optional pyramid) GeoTIFF — gdal_translate's COG path,
        # distributed (one write task per band/file)
        from raster2points_spark.operators.grid import grid_unpivot
        from raster2points_spark.sinks.geotiff import write_geotiffs

        tiles_df = _as_tiles(spark, tiles).filter(F.col("band_id").isin(bands))
        names = dict(zip(bands, args.col_names)) if args.col_names else {}
        meta = tiles_df.groupBy("band_id").agg(
            F.max(F.col("col_off") + F.col("width")).alias("w"),
            F.max(
                F.col("row_off") + (F.size("data") / F.col("width")).cast("int")
            ).alias("h"),
            F.first("transform").alias("t"),
            F.countDistinct("transform").alias("nt"),
        ).collect()
        # F.first('transform') assumes all of a band's tiles share one
        # transform; generic tile-table parquet can violate that, and
        # an arbitrary tile's origin would silently win — refuse, like
        # the co-tiling check in operators/grid.py
        torn = [r.band_id for r in meta if r.nt != 1]
        if torn:
            ap.error(
                f"band(s) {torn} carry more than one transform across "
                "their tiles — each output band needs a single grid; "
                "split or re-grid the tile table first"
            )
        width = max(r.w for r in meta)
        height = max(r.h for r in meta)
        a, e = meta[0].t[0], meta[0].t[4]
        # all output files share ONE pixel scale; mixed-resolution
        # inputs would silently get band 1's grid — refuse, like the
        # raster2df pre-flight (COG-ify each resolution group alone,
        # or resample first: raster_mosaic_hetero shows the pattern)
        mixed = [r.band_id for r in meta if (r.t[0], r.t[4]) != (a, e)]
        if mixed:
            ap.error(
                f"mixed pixel scales across bands ({mixed} differ from "
                f"{(a, -e)}); COG-ify each resolution group separately"
            )
        # per-file dims: each band keeps ITS OWN raster's extent
        # (write_geotiffs' optional width/height origin columns) — a
        # smaller input must not roundtrip nodata-padded to the
        # global max
        from raster2points_spark.io import local_df

        origins = local_df(
            spark,
            [
                (
                    names.get(r.band_id, r.band_id),
                    float(r.t[2]),
                    float(r.t[5]),
                    int(r.w),
                    int(r.h),
                )
                for r in meta
            ],
            "file_id string, lon0 double, lat0 double, width int, height int",
        )
        px = grid_unpivot(tiles_df).filter(F.col("value").isNotNull())
        if names:
            mapping = F.create_map(*[F.lit(x) for kv in names.items() for x in kv])
            file_col = F.coalesce(mapping[F.col("band_id")], F.col("band_id"))
        else:
            file_col = F.col("band_id")
        pixels = px.select(
            file_col.alias("file_id"),
            F.lit(1).alias("band"),
            "row",
            "col",
            F.col("value").cast("double").alias("value"),
        )
        manifest = write_geotiffs(
            pixels,
            args.output,
            width=int(width),
            height=int(height),
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
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
