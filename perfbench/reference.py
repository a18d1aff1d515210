"""Single-process numpy ``raster2df`` and the raster output check.

The check compares order-independent digests of the program's output
(read back from its parquet or CSV files) with digests of the expected
points, built with numpy from the arrays the inputs were encoded from:

* the row count;
* a wrapping sum of a 64-bit mix of each point's pixel index, recovered
  from its lon/lat — catches missing, extra and duplicate points;
* a wrapping sum of a mix of each point's index with the bits of its
  band values — catches a value attached to the wrong pixel;
* the largest distance of a lon/lat from its pixel centre, and the sum
  of the areas (relative tolerance 1e-9).
"""

from __future__ import annotations

import glob
import os
import zlib

import numpy as np

_NULL_BITS = np.uint64(0x7FC00001)  # a NaN pattern no band value uses
_M1, _M2 = np.uint64(0xBF58476D1CE4E5B9), np.uint64(0x94D049BB133111EB)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over uint64 (wrapping arithmetic)."""
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * _M1
    z = (z ^ (z >> np.uint64(27))) * _M2
    return z ^ (z >> np.uint64(31))


def _bits(v) -> np.ndarray:
    """Band values as uint64 bit patterns of their float32 value; NULL
    (NaN or a masked entry) gets its own pattern."""
    a = np.ma.filled(np.ma.asarray(v, dtype="f4"), np.nan)
    out = a.view(np.uint32).astype(np.uint64)
    out[np.isnan(a)] = _NULL_BITS
    return out


def digest(cols: dict, transform, width: int) -> dict:
    """Digest of a point table given as numpy columns lon, lat, val1,
    val2 and optionally area."""
    a, _, c, _, e, f = transform
    lon, lat = np.asarray(cols["lon"], "f8"), np.asarray(cols["lat"], "f8")
    col = np.rint((lon - c) / a - 0.5).astype(np.int64)
    row = np.rint((lat - f) / e - 0.5).astype(np.int64)
    centre_err = 0.0
    if len(lon):
        centre_err = float(
            max(
                np.abs(lon - (c + (col + 0.5) * a)).max(),
                np.abs(lat - (f + (row + 0.5) * e)).max(),
            )
        )
    key = _mix(row * width + col)
    vals = (_bits(cols["val1"]) << np.uint64(32)) | _bits(cols["val2"])
    return {
        "rows": int(len(lon)),
        "key_hash": int(key.sum(dtype=np.uint64)),
        "value_hash": int(_mix(key ^ vals).sum(dtype=np.uint64)),
        "centre_err": centre_err,
        "area_sum": float(np.sum(cols["area"])) if "area" in cols else None,
    }


def compare(expected: dict, got: dict) -> list[str]:
    problems = [
        f"{k}: expected {expected[k]}, got {got[k]}"
        for k in ("rows", "key_hash", "value_hash")
        if expected[k] != got[k]
    ]
    if got["centre_err"] > 1e-9:
        problems.append(f"lon/lat off pixel centres by {got['centre_err']:.3g} deg")
    if expected["area_sum"] is not None:
        ga = got["area_sum"]
        if ga is None or abs(ga - expected["area_sum"]) > 1e-9 * abs(expected["area_sum"]):
            problems.append(f"area_sum: expected {expected['area_sum']!r}, got {ga!r}")
    return problems


def points(bands, nodata, transform, calc_area: bool) -> dict:
    """The reference's raster2df over decoded band arrays: band 1 masks
    (``np.where``), pixel-centre affine, bands 2..N keep nodata as NULL,
    area from ``operators.grid.geodesic_area_py`` per pixel row."""
    from raster2points_spark.operators.grid import geodesic_area_py

    a, b, c, d, e, f = transform
    rows, cols = np.where(bands[0] != nodata[0])
    out = {
        "lon": c + (cols + 0.5) * a + (rows + 0.5) * b,
        "lat": f + (cols + 0.5) * d + (rows + 0.5) * e,
    }
    for i, (band, nd) in enumerate(zip(bands, nodata), 1):
        v = band[rows, cols]
        out[f"val{i}"] = np.ma.masked_equal(v, nd) if i > 1 else v
    if calc_area:
        lat_of_row = f + (np.arange(bands[0].shape[0]) + 0.5) * e
        per_row = np.array([geodesic_area_py(la, a, e) for la in lat_of_row])
        out["area"] = per_row[rows]
    return out


def decode(path: str) -> np.ndarray:
    """Decode a tiled deflate GeoTIFF (predictor 1 or 3, sparse tiles
    allowed) to a 2-D array; the header comes from the repo's reader."""
    from raster2points_spark.sources.minitiff import read_header

    h = read_header(path)
    dt = np.dtype(h.dtype)
    tw, th = h.block_width, h.block_height
    out = np.empty((h.blocks_down * th, h.blocks_across * tw), dtype=dt)
    with open(path, "rb") as fh:
        for i, (off, n) in enumerate(zip(h.offsets, h.byte_counts)):
            ty, tx = divmod(i, h.blocks_across)
            dst = out[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw]
            if off == 0:
                dst[:] = h.nodata
                continue
            fh.seek(off)
            raw = np.frombuffer(zlib.decompress(fh.read(n)), dtype="u1")
            if h.predictor == 3:
                planes = np.cumsum(raw.reshape(th, -1), axis=1, dtype="u1")
                planes = planes.reshape(th, dt.itemsize, tw).transpose(0, 2, 1)
                dst[:] = np.ascontiguousarray(planes).view(dt.newbyteorder(">"))[..., 0]
            else:
                dst[:] = raw.view(dt).reshape(th, tw)
    return out[: h.height, : h.width]


def numpy_raster2df(paths, nodata, transform, calc_area: bool):
    """Single-process comparator: decode, mask, affine, area, pandas."""
    import pandas as pd

    bands = [decode(p) for p in paths]
    return pd.DataFrame(points(bands, nodata, transform, calc_area)), bands


def read_output(out_dir: str, fmt: str) -> dict:
    """Read the program's point table back from its part files; NULL
    values come back as NaN."""
    import pyarrow as pa

    if fmt == "parquet":
        import pyarrow.parquet as pq

        t = pq.read_table(out_dir)
    else:
        import pyarrow.csv as pcsv

        # float32 parsed directly, so a printed float32 reads back bit-exact
        types = {"lon": pa.float64(), "lat": pa.float64(), "val1": pa.float32(), "val2": pa.float32()}
        opts = pcsv.ConvertOptions(column_types=types)
        parts = sorted(glob.glob(os.path.join(out_dir, "part-*.csv")))
        tables = [pcsv.read_csv(p, convert_options=opts) for p in parts if os.path.getsize(p)]
        if not tables:
            return {k: np.empty(0) for k in types}
        t = pa.concat_tables(tables)
    return {name: t.column(name).to_numpy(zero_copy_only=False) for name in t.column_names}
