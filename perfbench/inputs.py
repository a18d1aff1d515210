"""Seeded inputs for the benchmark workloads.

Raster inputs are GeoTIFFs written by the repo's own encoder
(``sinks.geotiff.encode_geotiff``), so no download is needed.  Tables for
``analytics_mix`` follow the schema and value domains of the repo's
TPC-H-like corpus (region … embeddings), generated here from the seed so
the benchmark reads nothing outside its checkout.

Everything is cached by (kind, seed, size) under the benchmark's scratch
directory; the same seed always gives the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

#: pixel size in degrees and the upper-left corner of every raster
PIXEL = 0.00025
ORIGIN = (10.0, 45.0)
TILE = 256
F4_NODATA = -9999.0


@dataclass(frozen=True)
class RasterSet:
    """Two co-registered single-band GeoTIFFs plus their source arrays
    (row-major, the encoder's input), which the output check uses."""

    paths: tuple[str, str]
    arrays: tuple[np.ndarray, np.ndarray]
    nodata: tuple[float, float]

    @property
    def transform(self) -> tuple[float, ...]:
        return (PIXEL, 0.0, ORIGIN[0], 0.0, -PIXEL, ORIGIN[1])


def _write_tif(path: str, arr: np.ndarray, **kw) -> None:
    from raster2points_spark.sinks.geotiff import encode_geotiff

    if os.path.exists(path):
        return
    blob, _ = encode_geotiff(
        [arr.ravel()],
        arr.shape[1],
        arr.shape[0],
        pixel_scale=(PIXEL, PIXEL),
        tiepoint=(0.0, 0.0, 0.0, ORIGIN[0], ORIGIN[1], 0.0),
        tile=(TILE, TILE),
        **kw,
    )
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        f.write(blob)
    os.replace(tmp, path)


def dense_rasters(root: str, seed: int, size: int) -> RasterSet:
    """Two f4 bands, deflate, no sparse tiles.  About 60% of mask pixels
    are valid and scattered, so every tile holds output; band 2 has about
    5% nodata, which the output keeps as NULL."""
    rng = np.random.default_rng([seed, size, 1])
    base = rng.normal(100.0, 20.0, (size, size)).astype("f4")
    mask = np.round(base, 2).astype("f4")
    mask[rng.random((size, size)) >= 0.6] = F4_NODATA
    value = np.round(rng.gamma(2.0, 30.0, (size, size)), 3).astype("f4")
    value[rng.random((size, size)) < 0.05] = F4_NODATA
    d = os.path.join(root, f"dense_s{seed}_{size}")
    os.makedirs(d, exist_ok=True)
    paths = (os.path.join(d, "mask.tif"), os.path.join(d, "value.tif"))
    _write_tif(paths[0], mask, dtype="f4", nodata=F4_NODATA)
    _write_tif(paths[1], value, dtype="f4", nodata=F4_NODATA)
    return RasterSet(paths, (mask, value), (F4_NODATA, F4_NODATA))


def sparse_rasters(root: str, seed: int, size: int) -> RasterSet:
    """Band 1 is a u1 mask (nodata 0) in which 3/4 of the tiles are all
    nodata and stored sparse (TileOffsets=0); band 2 is f4, deflate with
    predictor 3.  About 15% of pixels reach the output."""
    rng = np.random.default_rng([seed, size, 2])
    nt = size // TILE
    live = np.zeros(nt * nt, dtype=bool)
    live[rng.permutation(nt * nt)[: nt * nt // 4]] = True
    live_px = np.kron(live.reshape(nt, nt), np.ones((TILE, TILE), dtype=bool))
    mask = rng.integers(1, 256, (size, size), dtype="u1")
    mask[~live_px | (rng.random((size, size)) >= 0.6)] = 0
    value = np.round(rng.normal(15.0, 8.0, (size, size)), 2).astype("f4")
    value[rng.random((size, size)) < 0.02] = F4_NODATA
    d = os.path.join(root, f"sparse_s{seed}_{size}")
    os.makedirs(d, exist_ok=True)
    paths = (os.path.join(d, "mask.tif"), os.path.join(d, "value.tif"))
    _write_tif(paths[0], mask, dtype="u1", nodata=0, sparse=True)
    _write_tif(paths[1], value, dtype="f4", nodata=F4_NODATA, predictor=3)
    return RasterSet(paths, (mask, value), (0.0, F4_NODATA))


# ---------------------------------------------------------------- tables

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PART_ADJ = "blue cold hot large new old red small".split()
_PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _tables(seed: int, scale: float) -> dict:
    """name -> pyarrow Table.  ``scale`` 1.0 gives the row counts of the
    corpus's sf0.1 (600k lineitem rows)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 7])
    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_ord, n_line = int(150000 * scale), int(600000 * scale)
    n_ev, n_users = int(100000 * scale), max(50, int(1500 * scale))
    n_doc, n_vec = int(5000 * scale), int(2000 * scale)
    out = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype="i4")),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype="i4")),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype("i4")),
        }
    )

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="i8"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("i4")),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="i8"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("i4")),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="i8"),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("i4")),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="i8"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("i8"),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )
    okeys = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, okeys[1:] != okeys[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    out["lineitem"] = pa.table(
        {
            "l_orderkey": okeys.astype("i8"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("i8"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("i8"),
            "l_linenumber": pa.array((np.arange(n_line) - run_start + 1).astype("i4")),
            "l_quantity": rng.integers(1, 51, n_line).astype("f8"),
            "l_extendedprice": money(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2498),
        }
    )
    start = np.datetime64("2024-01-01", "us")
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="i8"),
            "ts": start + (secs * 1e6).astype("i8").astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype("i8"),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.round(rng.gamma(1.0, 50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.array(_WORDS)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    langs = np.array(["de", "en", "en", "en", "es", "fr", "zh"])
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="i8"),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n_doc)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype="i8"),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 0.02, (10, 64))
    emb = rng.normal(0.0, 0.125, (n_vec, 64)) + centers[labels]
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("f4")
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype="i8"),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype("i4")),
        }
    )
    return out


def tables_dir(root: str, seed: int, scale: float) -> str:
    """Write the analytics corpus (one parquet file per table, one row
    group each, like the corpus it imitates) and return its directory."""
    import pyarrow.parquet as pq

    d = os.path.join(root, f"tables_s{seed}_x{scale:g}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    for name, tbl in _tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(d, f"{name}.parquet"), row_group_size=1 << 30)
    open(done, "w").close()
    return d
