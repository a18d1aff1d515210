"""raster2points_spark — a PySpark-native analytics engine with the
capabilities of ``wri/raster2points``, rebuilt Spark-first.

The reference (public GitHub repo ``wri/raster2points``; the local
mount ``/root/reference/`` was empty at survey time, see SURVEY.md §0)
is a single-node raster→point-table converter.  This package
re-expresses that dataflow — tiled scan → NoData mask → affine
projection → multi-band zip → geodesic area → CSV/Parquet sink — as
declarative DataFrame plans that Catalyst optimizes, and extends it
with the relational / LLM-data-pipeline / streaming operator surface
catalogued in SURVEY.md §2.

Public API (mirrors the reference's two entry points,
``raster2points/raster2points.py::raster2df`` / ``::raster2csv``):

    from raster2points_spark import raster2df, raster2csv
"""

__all__ = ["raster2df", "raster2csv", "get_spark"]
__version__ = "0.1.0"


def __getattr__(name):
    # imported on first use, so that the Python worker daemon
    # (``_pydaemon``, started as a module of this package) loads only
    # what pyspark's own daemon loads: no pyarrow, no engine module
    if name == "get_spark":
        from raster2points_spark.session import get_spark

        return get_spark
    if name in ("raster2df", "raster2csv"):
        from raster2points_spark import api

        return getattr(api, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
