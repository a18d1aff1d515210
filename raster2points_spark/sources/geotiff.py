"""Window grid of the GeoTIFF reader.

The reference (wri/raster2points, reconstructed — SURVEY §0) reads
GeoTIFFs block window by block window.  Here the reader is
sources/minitiff.py; this module holds the block-window generator that
lays the tile grid over a raster.

Scale shape: tiling 100 TB of GeoTIFFs is itself a distributed job —
the window list is sliced into one partition per core, and each
mapInArrow task reads its own windows and emits tile-table rows.  Only
headers are read on the driver.
"""

from __future__ import annotations

def window_grid(
    raster_width: int,
    raster_height: int,
    tile_size: int,
    tile_height: int | None = None,
) -> list[dict]:
    """The reference's block-window generator: row-major
    tile grid covering the raster, edge tiles clipped.  tile_id is the
    row-major index — the same numbering the grid fixtures use.
    ``tile_height`` (default: square = tile_size) lets a tiled TIFF's
    native TileWidth×TileLength grid map 1:1 onto the tile table, so
    each task decompresses exactly its own file blocks."""
    tile_h = tile_height if tile_height is not None else tile_size
    if raster_width <= 0 or raster_height <= 0:
        raise ValueError("raster dimensions must be positive")
    if tile_size <= 0 or tile_h <= 0:
        raise ValueError("tile_size must be positive")
    tiles_per_row = (raster_width + tile_size - 1) // tile_size
    out = []
    for row_off in range(0, raster_height, tile_h):
        for col_off in range(0, raster_width, tile_size):
            out.append(
                {
                    "tile_id": (row_off // tile_h) * tiles_per_row
                    + (col_off // tile_size),
                    "col_off": col_off,
                    "row_off": row_off,
                    "width": min(tile_size, raster_width - col_off),
                    "height": min(tile_h, raster_height - row_off),
                }
            )
    return out
