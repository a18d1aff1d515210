"""GeoTIFF sink — distributed tiled-COG-style writes from a pixel relation.

The reference pipeline is read-only (GeoTIFF in, CSV/DataFrame out);
a 100 TB raster platform also needs the WRITE half: model outputs,
resampled mosaics and derived indices land back on object storage as
tiled GeoTIFFs, one file per task.  This module provides

* :func:`encode_geotiff` — a dependency-free (struct + zlib + numpy)
  encoder producing a classic little-endian TIFF: tiled layout,
  deflate or TIFF-LZW compression, multi-band chunky interleave, GeoTIFF
  ModelPixelScale/ModelTiepoint geo tags, GDAL_NODATA, and optional
  GDAL SPARSE_OK sparse tiles (all-nodata tiles stored with
  TileOffsets=0 — zero bytes on disk, exactly what
  ``sources/minitiff.py`` synthesizes back on read).  Byte-stable by
  construction: fixed tag order, zlib level 6, no timestamps — the
  same pixels always encode to the same bytes, so written files can
  be golden-pinned like the committed fixtures.

* :func:`write_geotiffs` — the distributed sink: a pixel relation
  ``(file_id, band, row, col, value)`` grouped by ``file_id``, each
  group assembled and encoded EXECUTOR-side via ``applyInPandas`` and
  written as ``<out_dir>/<file_id>.tif``.  One output file per task is
  the same contract as Spark's own parquet sink; per-file state is
  bounded by the file's raster (shard the target grid into as many
  file_ids as you like — the dataset never has to fit anywhere).
  Returns the write MANIFEST as a DataFrame (path, dims, tile/sparse
  counts, valid-pixel count, byte size) — the audit relation a
  catalog ingests (see ``scan_raster_catalog``).

Absent pixels and NaNs encode as ``nodata`` — the write twin of the
reader's mask-first semantics.  The encoder intentionally supports
the PRODUCTION subset (tiled + deflate + chunky), not every layout
the fixture generator ``tests/test_minitiff.py::_write_tiff`` can
produce for reader torture tests; both encoders are exercised against
the same reader.
"""

from __future__ import annotations

import os
import struct
import zlib

# TIFF 6.0 / BigTIFF field types
_T_SHORT, _T_LONG, _T_ASCII, _T_DOUBLE, _T_LONG8 = 3, 4, 2, 12, 16

_DTYPES = {
    # dtype -> (bits, SampleFormat, numpy dtype)
    "f8": (64, 3, "<f8"),
    "f4": (32, 3, "<f4"),
    "i2": (16, 2, "<i2"),
    "u1": (8, 1, "u1"),
}


_TYPE_PACK = {_T_SHORT: ("H", 2), _T_LONG: ("I", 4), _T_DOUBLE: ("d", 8), _T_LONG8: ("Q", 8)}

# compression= option -> TIFF tag 259 code
_COMPRESSIONS = {"deflate": 8, "lzw": 5}


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (TIFF 6.0 §13): MSB-first bit packing,
    CLEAR first, EARLY CHANGE (the code width bumps when the next free
    code reaches 2^width - 1 from the DECODER's one-entry-lagged view,
    i.e. encoder-side at 2^width), CLEAR again when the table fills at
    4094.  Exactly inverse to sources/minitiff._lzw_decode — the
    round-trip is hypothesis-swept in tests/test_sink_geotiff.py.
    Pure Python on tile-sized blocks (the task's own payload), same
    trade as the reader's decoder: correctness-first for the most
    common GeoTIFF codec."""
    CLEAR, EOI = 256, 257

    def init():
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, next_code, width = init()
    emit = [(CLEAR, 9)]
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        emit.append((table[w], width))
        table[w + c] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1  # early change, encoder side
        if next_code == 4094:
            emit.append((CLEAR, width))
            table, next_code, width = init()
        w = c
    if w:
        emit.append((table[w], width))
        # Mirror the decoder's post-code bookkeeping (libtiff
        # LZWPostEncode): the decoder adds a table entry for this final
        # data code and early-changes its width BEFORE reading the next
        # code, so when that entry lands on a width boundary
        # (511/1023/2047 decoder-side) EOI must be emitted at the wider
        # width or it is misparsed.  No CLEAR at the 4094 point here:
        # end-of-stream emits no further data codes, and the decoder
        # only resets on an explicit CLEAR, so both sides stay at the
        # current width for the EOI.
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
    emit.append((EOI, width))
    acc = bitlen = 0
    out = bytearray()
    for code, wd in emit:
        acc = (acc << wd) | code
        bitlen += wd
        while bitlen >= 8:
            out.append((acc >> (bitlen - 8)) & 0xFF)
            bitlen -= 8
    if bitlen:
        out.append((acc << (8 - bitlen)) & 0xFF)
    return bytes(out)


def _tile_payloads(
    stack, width, height, tw, th, nodata, np_dt, sparse, predictor=1, compression=8
):
    """Compress one sub-image's tiles (row-major tile order,
    spec-padded with nodata to full tile size) — deflate (8, zlib
    level 6) or TIFF-LZW (5).  Sparse all-nodata tiles encode as b""
    (TileOffsets=0 on disk).  predictor=2 applies per-row horizontal
    differencing (ints), predictor=3 the float byte shuffle
    (plane-major big-endian bytes, byte-diffed) — both exactly inverse
    to sources/minitiff._decode_block."""
    import numpy as np

    payloads: list[bytes] = []
    n_sparse = 0
    for ty in range(-(-height // th)):
        for tx in range(-(-width // tw)):
            block = np.full((th, tw, stack.shape[2]), nodata, dtype=np_dt)
            ys, xs = ty * th, tx * tw
            sub = stack[ys : min(ys + th, height), xs : min(xs + tw, width), :]
            block[: sub.shape[0], : sub.shape[1], :] = sub
            if sparse and bool(np.all(block == nodata)):
                payloads.append(b"")
                n_sparse += 1
                continue
            if predictor == 2:
                d = block.copy()
                d[:, 1:, :] = block[:, 1:, :] - block[:, :-1, :]  # modular per dtype
                raw = np.ascontiguousarray(d).tobytes()
            elif predictor == 3:
                rows_, cols_, nch_ = block.shape
                row_vals = cols_ * nch_
                bps = block.dtype.itemsize
                be = np.frombuffer(
                    np.ascontiguousarray(block.astype(">" + block.dtype.str[1:])).tobytes(),
                    "u1",
                ).reshape(rows_, row_vals, bps)
                planes = np.ascontiguousarray(be.transpose(0, 2, 1)).reshape(
                    rows_, row_vals * bps
                )
                d = planes.copy()
                d[:, 1:] = planes[:, 1:] - planes[:, :-1]  # u1 modular diff
                raw = d.tobytes()
            else:
                raw = block.tobytes()
            payloads.append(
                _lzw_encode(raw) if compression == 5 else zlib.compress(raw, 6)
            )
    return payloads, n_sparse


def _segment_size(entries, payloads, bigtiff):
    """Byte size of one IFD segment (IFD + external arrays + tile
    data) — offset-independent, so segments can be laid out in one
    pass before any absolute position is known."""
    inline_cap = 8 if bigtiff else 4
    entry_sz = 20 if bigtiff else 12
    size = (8 + entry_sz * len(entries) + 8) if bigtiff else (2 + entry_sz * len(entries) + 4)
    for tag, typ, count, val in entries:
        n = count if typ == _T_ASCII else count * _TYPE_PACK[typ][1]
        if n > inline_cap and val != "OFFSETS":
            size += n + (n % 2)
    n_off = len(payloads) * (8 if bigtiff else 4)
    if n_off > inline_cap:
        size += n_off  # offsets array (always even)
    return size + sum(len(p) for p in payloads)


def _emit_segment(entries, payloads, base, next_off, bigtiff):
    """Emit one IFD segment at absolute offset ``base``, chaining its
    next-IFD pointer to ``next_off`` (0 terminates)."""
    inline_cap = 8 if bigtiff else 4
    off_fmt = "Q" if bigtiff else "I"
    t_off = _T_LONG8 if bigtiff else _T_LONG
    n_tiles = len(payloads)
    entries = sorted(entries, key=lambda e: e[0])  # spec: ascending tags
    entry_sz = 20 if bigtiff else 12
    ifd_size = (8 + entry_sz * len(entries) + 8) if bigtiff else (2 + entry_sz * len(entries) + 4)

    ext_chunks: list[bytes] = []
    ext_pos: dict[int, int] = {}
    cur = base + ifd_size

    def _ext(tag: int, raw: bytes) -> None:
        nonlocal cur
        if len(raw) % 2:  # spec: word-align external values
            raw += b"\x00"
        ext_pos[tag] = cur
        ext_chunks.append(raw)
        cur += len(raw)

    for tag, typ, count, val in entries:
        if typ == _T_ASCII:
            if count > inline_cap:
                _ext(tag, val)
        elif val != "OFFSETS":
            fmt, sz = _TYPE_PACK[typ]
            if count * sz > inline_cap:
                vals = val if isinstance(val, list) else [val]
                _ext(tag, struct.pack(f"<{count}{fmt}", *vals))
    off_sz = 8 if bigtiff else 4
    offsets_external = n_tiles * off_sz > inline_cap
    if offsets_external:
        _ext(324, b"\x00" * (n_tiles * off_sz))  # placeholder, patched below
    data_off = cur
    offsets: list[int] = []
    for p in payloads:
        offsets.append(0 if not p else data_off)  # 0 = sparse tile
        data_off += len(p)
    if offsets_external:
        ext_chunks[-1] = struct.pack(f"<{n_tiles}{off_fmt}", *offsets)

    out = bytearray()
    if bigtiff:
        out += struct.pack("<Q", len(entries))
    else:
        out += struct.pack("<H", len(entries))
    for tag, typ, count, val in entries:
        if typ == _T_ASCII:
            inline = (
                val.ljust(inline_cap, b"\x00")
                if count <= inline_cap
                else struct.pack(f"<{off_fmt}", ext_pos[tag])
            )
            out += struct.pack(f"<HH{off_fmt}", tag, typ, count) + inline
            continue
        fmt, sz = _TYPE_PACK[typ]
        if tag == 324:
            payload = (
                struct.pack(f"<{off_fmt}", ext_pos[324])
                if offsets_external
                else struct.pack(f"<{n_tiles}{fmt}", *offsets).ljust(inline_cap, b"\x00")
            )
        elif count * sz > inline_cap:
            payload = struct.pack(f"<{off_fmt}", ext_pos[tag])
        else:
            vals = val if isinstance(val, list) else [val]
            payload = struct.pack(f"<{count}{fmt}", *vals).ljust(inline_cap, b"\x00")
        out += struct.pack(f"<HH{off_fmt}", tag, typ, count) + payload
    out += struct.pack(f"<{off_fmt}", next_off)
    for chunk in ext_chunks:
        out += chunk
    for p in payloads:
        out += p
    assert len(out) == _segment_size(entries, payloads, bigtiff), "layout accounting drift"
    return bytes(out), t_off  # t_off returned for callers building entries


def encode_geotiff(
    bands,
    width,
    height,
    *,
    pixel_scale=(0.5, 0.5),
    tiepoint=(0.0, 0.0, 0.0, 10.0, 45.0, 0.0),
    nodata=-9999.0,
    dtype="f8",
    tile=(256, 256),
    sparse=False,
    bigtiff=False,
    overviews=0,
    predictor=1,
    crs_epsg=4326,
    compression="deflate",
):
    """Encode band arrays as tiled compressed GeoTIFF bytes.

    ``bands`` — list of row-major numpy-coercible arrays (length
    width*height each); ``tile`` — (tile_width, tile_height), must be
    multiples of 16 per the TIFF spec; ``sparse`` — store all-nodata
    tiles with TileOffsets=0 (GDAL SPARSE_OK); ``bigtiff`` — BigTIFF
    layout (magic 43, 8-byte offsets, LONG8 tile arrays) for files
    that can exceed 4 GB — at 100 TB most production COGs are written
    BigTIFF regardless of size so appends/mosaics never hit the
    classic 32-bit offset wall.

    ``overviews=k`` appends k pyramid levels as chained IFDs, each a
    2×2 box-mean (nodata-excluding, GDAL "average") of the previous
    level with ceil-halved dims — the full COG layout
    ``raster_overview_prune`` serves from.  Overview IFDs follow the
    GDAL convention: NewSubfileType=FILETYPE_REDUCEDIMAGE and NO geo
    tags (readers inherit and scale the full-res transform).

    ``crs_epsg`` (default 4326) writes the CRS as a minimal
    GeoKeyDirectoryTag (34735, GeoTIFF 1.1 §B.1.1) on the FULL-RES
    IFD only (overviews inherit, the GDAL convention): a geographic
    code (EPSG 4000–4999) emits GTModelType=2 + GeographicTypeGeoKey,
    anything else GTModelType=1 + ProjectedCSTypeGeoKey; both carry
    GTRasterType=1 (RasterPixelIsArea — pixel centers at +0.5, the
    affine convention every query here already uses).  ``None`` omits
    the tag (the pre-geokey layout).  Without this tag GDAL/QGIS open
    the file as "unknown CRS" — the one reference-parity gap a GIS
    consumer hits immediately (rasterio always writes it).
    """
    import numpy as np

    if dtype not in _DTYPES:
        raise ValueError(f"unsupported dtype {dtype!r}; one of {sorted(_DTYPES)}")
    tw, th = tile
    if tw % 16 or th % 16:
        raise ValueError(f"tile dims must be multiples of 16, got {tile}")
    if predictor not in (1, 2, 3):
        raise ValueError(f"unsupported predictor {predictor}; 1, 2 or 3")
    if predictor == 2 and dtype not in ("i2", "u1"):
        raise ValueError("predictor 2 (horizontal diff) is for integer dtypes")
    if predictor == 3 and dtype not in ("f8", "f4"):
        raise ValueError("predictor 3 (byte shuffle) is for float dtypes")
    comp_code = _COMPRESSIONS.get(compression)
    if comp_code is None:
        raise ValueError(
            f"unsupported compression {compression!r}; one of {sorted(_COMPRESSIONS)}"
        )
    bits, sample_format, np_dt = _DTYPES[dtype]
    spp = len(bands)
    arrs = [np.asarray(b, dtype=np_dt).reshape(height, width) for b in bands]
    stack = np.stack(arrs, axis=-1)  # (h, w, spp) chunky interleave
    t_off = _T_LONG8 if bigtiff else _T_LONG
    nodata_ascii = _gdal_nodata_ascii(nodata, dtype)

    def _common(w, h, n_tiles, counts):
        return [
            (256, _T_LONG, 1, w),
            (257, _T_LONG, 1, h),
            (258, _T_SHORT, spp, [bits] * spp),
            (259, _T_SHORT, 1, comp_code),
            (262, _T_SHORT, 1, 1),  # BlackIsZero
            (277, _T_SHORT, 1, spp),
            (284, _T_SHORT, 1, 1),  # chunky
            (322, _T_LONG, 1, tw),
            (323, _T_LONG, 1, th),
            *([(317, _T_SHORT, 1, predictor)] if predictor != 1 else []),
            (324, t_off, n_tiles, "OFFSETS"),
            (325, t_off, n_tiles, counts),
            (339, _T_SHORT, spp, [sample_format] * spp),
        ]

    # ---- build every sub-image's entries + payloads ----
    segments: list[tuple[list, list]] = []
    payloads, n_sparse = _tile_payloads(
        stack, width, height, tw, th, nodata, np_dt, sparse, predictor, comp_code
    )
    full_entries = _common(width, height, len(payloads), [len(p) for p in payloads]) + [
        (33550, _T_DOUBLE, 3, [pixel_scale[0], pixel_scale[1], 0.0]),
        (33922, _T_DOUBLE, 6, list(tiepoint)),
        (42113, _T_ASCII, len(nodata_ascii), nodata_ascii),
    ]
    if crs_epsg is not None:
        geokeys = _geokey_directory(int(crs_epsg))
        full_entries.append((34735, _T_SHORT, len(geokeys), geokeys))
    segments.append((full_entries, payloads))
    for k in range(1, overviews + 1):
        # each level derives from the FULL-RES image (2^k box means),
        # the gdaladdo semantic — successive halving would weight odd
        # edges and nodata-holed quads differently (mean-of-means !=
        # mean)
        lvl_stack, lw, lh = _box_mean(stack, width, height, 2**k, nodata, np_dt)
        pl, ns = _tile_payloads(
            lvl_stack, lw, lh, tw, th, nodata, np_dt, sparse, predictor, comp_code
        )
        n_sparse += ns
        segments.append(
            (
                _common(lw, lh, len(pl), [len(p) for p in pl])
                + [(254, _T_LONG, 1, 1)],  # FILETYPE_REDUCEDIMAGE
                pl,
            )
        )

    # ---- lay out: header | seg0 | seg1 | ... (sizes known up front) ----
    header_sz = 16 if bigtiff else 8
    bases = [header_sz]
    for entries, pl in segments[:-1]:
        bases.append(bases[-1] + _segment_size(sorted(entries), pl, bigtiff))

    out = bytearray()
    if bigtiff:
        out += struct.pack("<2sHHHQ", b"II", 43, 8, 0, bases[0])
    else:
        out += struct.pack("<2sHI", b"II", 42, bases[0])
    for i, (entries, pl) in enumerate(segments):
        next_off = bases[i + 1] if i + 1 < len(segments) else 0
        seg, _ = _emit_segment(entries, pl, bases[i], next_off, bigtiff)
        out += seg
    return bytes(out), n_sparse


# Projected CRSs that live inside the mostly-geographic EPSG
# 4000-4999 block (ADVICE r14): the world equidistant-cylindrical
# pair, the WGS 84 TM zones, MOLDREF99 / Moldova TM and the Danish
# DKTM zones.  The block heuristic misclassifies these without the
# carve-out.
_PROJECTED_IN_4XXX = frozenset({4026, 4037, 4038, 4087, 4088, 4093, 4094, 4095, 4096})


def _geokey_directory(epsg: int, geographic: bool | None = None) -> list[int]:
    """Minimal GeoKeyDirectoryTag payload for one EPSG code: header
    (KeyDirectoryVersion=1, KeyRevision=1.0, NumberOfKeys=3) + three
    inline SHORT keys in ascending KeyID order (spec requirement).

    ``geographic=None`` infers the CRS kind from the code: EPSG
    4000–4999 is predominantly the geographic-CRS block (GTModelType=2
    + GeographicTypeGeoKey 2048) minus the known projected carve-outs
    (``_PROJECTED_IN_4XXX``, e.g. EPSG:4087/4088 World Equidistant
    Cylindrical); everything else is written projected (GTModelType=1
    + ProjectedCSTypeGeoKey 3072) — the two layouts GDAL emits for
    EPSG-coded rasters.  The heuristic is not a full EPSG registry:
    geographic 2D codes exist OUTSIDE 4000-4999 (e.g. 3819, 3824) and
    would be written projected — pass ``geographic`` explicitly for
    such codes (ADVICE r14 documents the limit)."""
    if not 1 <= epsg <= 65535:
        raise ValueError(f"crs_epsg {epsg} outside the SHORT-codable EPSG range")
    if geographic is None:
        geographic = 4000 <= epsg <= 4999 and epsg not in _PROJECTED_IN_4XXX
    keys = [
        (1024, 0, 1, 2 if geographic else 1),  # GTModelTypeGeoKey
        (1025, 0, 1, 1),  # GTRasterTypeGeoKey: RasterPixelIsArea
        (2048 if geographic else 3072, 0, 1, epsg),
    ]
    out = [1, 1, 0, len(keys)]
    for k in keys:
        out.extend(k)
    return out


def _box_mean(stack, width, height, factor, nodata, np_dt):
    """One GDAL-"average" pyramid level: factor×factor nodata-excluding
    box mean of the FULL-RES image, ceil-divided dims; cells whose
    parents are all nodata stay nodata.  Odd edges average the parents
    that exist."""
    import numpy as np

    ow, oh = -(-width // factor), -(-height // factor)
    spp = stack.shape[2]
    pad = np.full((oh * factor, ow * factor, spp), np.nan, dtype="f8")
    pad[:height, :width, :] = stack.astype("f8")
    pad[pad == nodata] = np.nan
    quads = pad.reshape(oh, factor, ow, factor, spp)
    # manual nan-excluding mean: np.nanmean warns on all-NaN quads
    # (the legitimate "4 nodata parents" case)
    cnt = np.count_nonzero(~np.isnan(quads), axis=(1, 3))
    tot = np.nansum(quads, axis=(1, 3))
    means = np.where(cnt > 0, tot / np.maximum(cnt, 1), float(nodata))
    return means.astype(np_dt), ow, oh


def _gdal_nodata_ascii(nodata, dtype: str) -> bytes:
    # GDAL writes the repr it parses back; integers without a point
    if dtype in ("i2", "u1") or float(nodata) == int(nodata):
        s = str(int(nodata))
    else:
        s = repr(float(nodata))
    return s.encode("ascii") + b"\x00"


def write_geotiffs(
    pixels,
    out_dir: str,
    *,
    width: int,
    height: int,
    pixel_scale=(0.5, 0.5),
    origins=None,
    nodata=-9999.0,
    dtype="f8",
    tile=(256, 256),
    sparse=False,
    bigtiff=False,
    overviews=0,
    predictor=1,
    crs_epsg=4326,
    compression="deflate",
):
    """Distributed GeoTIFF sink: one tiled file per ``file_id`` group.

    ``pixels`` — DataFrame with columns (file_id: str, band: int,
    row: int, col: int, value: double); absent (file_id, band, row,
    col) cells encode as ``nodata``.  ``origins`` — optional DataFrame
    (file_id, lon0, lat0[, width, height]) giving each file's
    tiepoint (upper-left corner) and, when the optional dim columns
    are present, PER-FILE raster dims (a real mosaic's files rarely
    share a grid — the header catalog records per-file dims for the
    same reason); files missing from it anchor at (0, 0) and take the
    ``width``×``height`` defaults.  Each file's band set is whatever
    its own rows carry.

    Scale shape: ONE shuffle (groupBy file_id), then each task
    assembles and zlib-encodes its own file and writes it directly —
    the parquet-task write pattern applied to COGs.  Per-task memory
    is one file's raster, set by how finely the caller shards the
    target grid into file_ids.  Returns the manifest DataFrame; the
    write happens when the manifest is materialized (sink semantics —
    same as ``df.write``, one action runs the job once).
    """
    import pandas as pd

    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    if origins is not None:
        for c in ("width", "height"):
            if c in origins.columns:
                origins = origins.withColumnRenamed(c, f"f_{c}")
        pixels = pixels.join(F.broadcast(origins), "file_id", "left")
    else:
        pixels = pixels.withColumn("lon0", F.lit(0.0)).withColumn("lat0", F.lit(0.0))

    schema = (
        "file_id string, path string, width int, height int, n_bands int, "
        "n_tiles int, n_sparse int, n_valid bigint, n_bytes bigint"
    )

    def _write_one(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        fid = str(pdf["file_id"].iloc[0])
        lon0 = float(pdf["lon0"].iloc[0]) if pd.notna(pdf["lon0"].iloc[0]) else 0.0
        lat0 = float(pdf["lat0"].iloc[0]) if pd.notna(pdf["lat0"].iloc[0]) else 0.0

        def _dim(col, default):
            if col in pdf.columns and pd.notna(pdf[col].iloc[0]):
                return int(pdf[col].iloc[0])
            return default

        fw, fh = _dim("f_width", width), _dim("f_height", height)
        band_ids = sorted(int(b) for b in pdf["band"].unique())
        bands = []
        n_valid = 0
        for b in band_ids:
            arr = np.full(fh * fw, nodata, dtype="f8")
            sel = pdf[pdf["band"] == b]
            vals = sel["value"].to_numpy(dtype="f8")
            ok = ~np.isnan(vals)  # NaN values encode as nodata
            rr = sel["row"].to_numpy(dtype="i8")
            cc = sel["col"].to_numpy(dtype="i8")
            if len(rr) and (
                rr.min() < 0 or rr.max() >= fh or cc.min() < 0 or cc.max() >= fw
            ):
                raise ValueError(
                    f"{fid}: pixel indices out of range for {fw}x{fh} "
                    f"(rows {rr.min()}..{rr.max()}, cols {cc.min()}..{cc.max()}) — "
                    "wrong width/height, or the pixel relation carries "
                    "another file's coordinates"
                )
            idx = rr * fw + cc
            arr[idx[ok]] = vals[ok]
            n_valid += int(ok.sum())
            bands.append(arr)
        data, n_sparse = encode_geotiff(
            bands,
            fw,
            fh,
            pixel_scale=pixel_scale,
            tiepoint=(0.0, 0.0, 0.0, lon0, lat0, 0.0),
            nodata=nodata,
            dtype=dtype,
            tile=tile,
            sparse=sparse,
            bigtiff=bigtiff,
            overviews=overviews,
            predictor=predictor,
            crs_epsg=crs_epsg,
            compression=compression,
        )
        path = os.path.join(out_dir, f"{fid}.tif")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:  # write-then-rename: no torn files
            f.write(data)
        os.replace(tmp, path)
        tw, th = tile
        n_tiles = (-(-fw // tw)) * (-(-fh // th))
        return pd.DataFrame(
            [
                {
                    "file_id": fid,
                    "path": path,
                    "width": fw,
                    "height": fh,
                    "n_bands": len(band_ids),
                    "n_tiles": n_tiles,
                    "n_sparse": n_sparse,
                    "n_valid": n_valid,
                    "n_bytes": len(data),
                }
            ]
        )

    return pixels.groupBy("file_id").applyInPandas(_write_one, schema)
