"""Tile-table source + deterministic grid fixture generator.

The tile table (FIXTURES.md §B / SURVEY §1.2) is the relational
stand-in for the reference's rasterio block windows — at 100 TB you
would land rasters as tiled parquet anyway (one row per block, payload
as array<double>), so this IS the scale-native format, not a test
shim.  GeoTIFF paths convert to it through sources/minitiff.py.

Fixtures (seed 42, numpy+pyarrow only, no Spark needed to generate):
- ``grid4``  — 4×4 px, 2×2 tiles, hand-specified mask: 5 valid pixels
  in band b1; band b2 valid everywhere except one pixel that IS valid
  in b1 (exercises "NoData in band 2 keeps the row with null").
- ``grid64`` — 64×64 px, 16×16 tiles, ~60% random validity; backs the
  oracle-checked grid queries at sf-independent size.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

NODATA = -9999.0

#: affine [a, b, c, d, e, f]: lon = c + (col+.5)a + (row+.5)b, lat = f + (col+.5)d + (row+.5)e
GRID4_TRANSFORM = [0.5, 0.0, 10.0, 0.0, -0.5, 45.0]
GRID64_TRANSFORM = [0.05, 0.0, -20.0, 0.0, -0.05, 60.0]

# grid4 band payloads, row-major 4×4.  V marks b1-valid pixels:
#   V . . V        b2 is NoData at (row=2, col=2) — which IS valid in
#   . V . .        b1 → that output row keeps val2=NULL.
#   . . V .
#   . . . V
_B1 = np.array(
    [
        [1.0, NODATA, NODATA, 4.0],
        [NODATA, 6.0, NODATA, NODATA],
        [NODATA, NODATA, 11.0, NODATA],
        [NODATA, NODATA, NODATA, 16.0],
    ]
)
_B2 = np.array(
    [
        [10.0, 20.0, 30.0, 40.0],
        [50.0, 60.0, 70.0, 80.0],
        [90.0, 100.0, NODATA, 120.0],
        [130.0, 140.0, 150.0, 160.0],
    ]
)

TILE_ARROW_SCHEMA = pa.schema(
    [
        ("band_id", pa.string()),
        ("tile_id", pa.int64()),
        ("col_off", pa.int32()),
        ("row_off", pa.int32()),
        ("width", pa.int32()),
        ("height", pa.int32()),
        ("transform", pa.list_(pa.float64())),
        ("nodata", pa.float64()),
        # source numpy dtype of the band (uint8/int16/float32/...).  The
        # payload is always carried as float64 (the container type), but
        # raster2points casts value columns back so a uint8 land-cover
        # raster comes out integer-typed, not 8x-inflated doubles —
        # reference parity (its pandas frames keep each raster's dtype).
        ("dtype", pa.string()),
        ("data", pa.list_(pa.float64())),
    ]
)
TILE_SCHEMA_DDL = (
    "band_id string, tile_id long, col_off int, row_off int, width int, "
    "height int, transform array<double>, nodata double, dtype string, "
    "data array<double>"
)


def _tile_rows(
    band_id: str,
    arr: np.ndarray,
    tile: int,
    transform: list[float],
    dtype: str = "float64",
) -> list[dict]:
    n_rows, n_cols = arr.shape
    tiles_per_row = (n_cols + tile - 1) // tile
    rows = []
    for r0 in range(0, n_rows, tile):
        for c0 in range(0, n_cols, tile):
            block = arr[r0 : r0 + tile, c0 : c0 + tile]
            rows.append(
                {
                    "band_id": band_id,
                    "tile_id": (r0 // tile) * tiles_per_row + (c0 // tile),
                    "col_off": c0,
                    "row_off": r0,
                    "width": block.shape[1],
                    "height": block.shape[0],
                    "transform": transform,
                    "nodata": NODATA,
                    "dtype": dtype,
                    "data": block.ravel().tolist(),
                }
            )
    return rows


def grid4_table() -> pa.Table:
    rows = _tile_rows("b1", _B1, 2, GRID4_TRANSFORM) + _tile_rows("b2", _B2, 2, GRID4_TRANSFORM)
    return pa.Table.from_pylist(rows, schema=TILE_ARROW_SCHEMA)


def grid64_table() -> pa.Table:
    rng = np.random.default_rng(42)
    n = 64
    b1 = np.round(rng.uniform(0, 100, (n, n)), 3)
    b1[rng.random((n, n)) > 0.6] = NODATA  # ~60% valid
    b2 = np.round(rng.uniform(-50, 50, (n, n)), 3)
    b2[rng.random((n, n)) > 0.9] = NODATA  # mostly valid
    rows = _tile_rows("b1", b1, 16, GRID64_TRANSFORM) + _tile_rows(
        "b2", b2, 16, GRID64_TRANSFORM
    )
    return pa.Table.from_pylist(rows, schema=TILE_ARROW_SCHEMA)


def write_grid_fixtures(out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, tbl in (("grid4", grid4_table()), ("grid64", grid64_table())):
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, p)
        paths[name] = p
    return paths


def ensure_grid_fixtures(out_dir: str) -> dict[str, str]:
    paths = {n: os.path.join(out_dir, f"{n}.parquet") for n in ("grid4", "grid64")}
    if not all(os.path.exists(p) for p in paths.values()):
        return write_grid_fixtures(out_dir)
    return paths


def read_tiles(spark: SparkSession, path: str) -> DataFrame:
    """Tile-table source.  At 100 TB this would be a directory
    partitioned by band_id/tile range; a plain parquet read keeps
    column pruning (e.g. tile_stats never reads ``transform``).  The
    fixed schema spares the schema-inference job; a table written
    without the ``dtype`` column reads it as NULL."""
    return spark.read.schema(TILE_SCHEMA_DDL).parquet(path)


def gridbig_table(n: int = 512, tile: int = 64) -> pa.Table:
    """512×512-px, 64 tiles of 64×64 — the bench-scale grid (~525k
    pixels over 2 bands).  Deterministic (seed 7); generated into
    scratch, never committed."""
    rng = np.random.default_rng(7)
    b1 = np.round(rng.uniform(0, 1000, (n, n)), 3)
    b1[rng.random((n, n)) > 0.6] = NODATA
    b2 = np.round(rng.uniform(-100, 100, (n, n)), 3)
    b2[rng.random((n, n)) > 0.95] = NODATA
    transform = [0.002, 0.0, -10.0, 0.0, -0.002, 50.0]
    rows = _tile_rows("b1", b1, tile, transform) + _tile_rows("b2", b2, tile, transform)
    return pa.Table.from_pylist(rows, schema=TILE_ARROW_SCHEMA)


def ensure_scratch_grid(out_dir: str) -> str:
    """Write gridbig.parquet into scratch if absent; returns its path.
    Import-time cheap (~0.5s once per environment)."""
    os.makedirs(out_dir, exist_ok=True)
    p = os.path.join(out_dir, "gridbig.parquet")
    if not os.path.exists(p):
        tmp = p + ".tmp"
        pq.write_table(gridbig_table(), tmp, compression="zstd")
        os.replace(tmp, p)
    return p
