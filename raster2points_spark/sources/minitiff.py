"""Pure-Python (Geo)TIFF reader — the engine's one GeoTIFF front door.

No native dependencies: a parser for the subset of TIFF 6.0 real
GeoTIFFs/COGs actually use:

  * classic TIFF AND BigTIFF (magic 43, 8-byte offsets — what >4 GB
    rasters, i.e. everything at the 100 TB design point, ship as)
  * strip OR tile layout (TileWidth/TileLength/TileOffsets 322/323/324)
  * Compression = 1 (none), 5 (TIFF-LZW, decoded in pure Python),
    8/32946 (deflate, stdlib ``zlib``) or 32773 (PackBits RLE)
  * Predictor = 1 (none), 2 (horizontal differencing, integer types)
    or 3 (floating-point byte shuffle)
  * SamplesPerPixel >= 1 with PlanarConfiguration 1 (chunky) or 2
    (planar) — multi-band stacks in one file
  * both byte orders; uint8/16/32, int16/32, float32/64
  * the GeoTIFF tags that drive the tile-table transform
    (ModelPixelScale 33550, ModelTiepoint 33922, GDAL_NODATA 42113)

Two distributed conversions share one decode kernel: a driver header
pass lays the window grid (sources/geotiff.py::window_grid) as a local
window list, already sliced into one partition per core, and
``mapInArrow`` tasks, given the driver's parsed headers, read only
their own windows' byte ranges into float64 ndarrays.
``minitiff_to_tiles`` emits the tile table (one row per band and
window, each window an Arrow list array).
``zipped_windows`` emits finished points for raster2df: the band-1
mask, NoData and the pixel-centre affine run in numpy inside the task
(operators.grid.points_from_windows), so only surviving points cross
to the JVM, and mask-empty windows are skipped before any other band
is read.  For a tiled TIFF the engine's tile grid aligns 1:1 with the
file's tile grid by default, so each task decompresses exactly its
own blocks (the COG access pattern).

Also supported since r11:

  * multi-IFD chains: ``read_header(path, overview=k)`` selects the
    k-th IFD (0 = full resolution, 1.. = the COG overview pyramid);
    an overview IFD without its own GeoTIFF tags inherits the
    full-resolution transform scaled by the size ratio and the
    full-resolution nodata (the GDAL overview convention).  Reading an
    overview instead of the full grid is the decade lever for
    downsample-shaped queries at 100 TB — 1/4 the bytes per level.
  * BitsPerSample = 1 (bilevel mask rasters — the reference's
    raster #1 role commonly ships as 1-bit): MSB-first row-aligned
    bit unpack, decoded as uint8 0/1.
  * BitsPerSample = 2 and 4 (the GDAL NBITS=2/4 low-depth grayscale
    convention): same MSB-first row-aligned packing, each sample's
    bits folded back together, decoded as uint8 0..3 / 0..15.

Still out of scope (raise ValueError with the offending tag):
JPEG/zstd/webp compression (need native codec libraries — see
reports/zstd_probe_r14.txt) and 64-bit-int samples.
"""

from __future__ import annotations

import math
import mmap
import os
import struct
import zlib
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from raster2points_spark.sources.geotiff import window_grid
from raster2points_spark.sources.tiles import TILE_SCHEMA_DDL

# TIFF tag ids
_NEW_SUBFILE_TYPE = 254
_W, _H = 256, 257
_BITS, _COMPRESSION, _PHOTO = 258, 259, 262
_FILL_ORDER = 266
_STRIP_OFFSETS, _SAMPLES_PER_PX, _ROWS_PER_STRIP, _STRIP_COUNTS = 273, 277, 278, 279
_PLANAR = 284
_PREDICTOR = 317
_TILE_WIDTH, _TILE_LENGTH, _TILE_OFFSETS, _TILE_COUNTS = 322, 323, 324, 325
_SUB_IFDS = 330
_SAMPLE_FORMAT = 339
_MODEL_PIXEL_SCALE, _MODEL_TIEPOINT = 33550, 33922
_GEO_KEY_DIRECTORY = 34735
_GDAL_NODATA = 42113

_DEFLATE = (8, 32946)  # new-style + legacy deflate codes
_LZW = 5
_PACKBITS = 32773


def _packbits_decode(data: bytes) -> bytes:
    """TIFF PackBits (TIFF 6.0 §9): byte-oriented RLE.  Control byte
    n in 0..127 copies the next n+1 literals; n in 129..255 repeats
    the next byte 257-n times; 128 is a no-op."""
    out = bytearray()
    i, end = 0, len(data)
    while i < end:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            out += data[i : i + 1] * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing, codes
    start at 9 bits, ClearCode=256, EOI=257, first table code 258,
    EARLY CHANGE (the code width bumps when the NEXT table slot would
    be 2^width-1 — i.e. at 511/1023/2047), 12-bit max.  Pure Python:
    a tile/strip is a bounded block (the task's own byte range), and
    correctness-first decode of the most common GeoTIFF compression
    beats rejecting the file; measured ~3 MB/s (≈40 ms per 256x256
    int16 COG block) — fine for tile-sized blocks, and tasks decode
    their blocks in parallel."""
    CLEAR, EOI = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width, prev = 9, None
    out = bytearray()
    bitpos, nbits = 0, len(data) * 8
    while bitpos + width <= nbits:
        byte_idx = bitpos >> 3
        chunk = int.from_bytes(data[byte_idx : byte_idx + 4].ljust(4, b"\0"), "big")
        code = (chunk >> (32 - (bitpos & 7) - width)) & ((1 << width) - 1)
        bitpos += width
        if code == CLEAR:
            table = list(base)
            width, prev = 9, None
            continue
        if code == EOI:
            break
        if code == 0 and prev is not None:
            # A zero code here is either a real '\x00' or the zero-bit
            # pad of a stream that omitted its EOI terminator (seen in
            # the wild).  It is pad iff every bit from the code's own
            # start position to the end of the block is zero — a
            # conformant writer always emits EOI, so the ambiguity only
            # exists on non-conformant tails, where dropping pad is the
            # correct reading.
            start = bitpos - width
            first_mask = (1 << (8 - (start & 7))) - 1
            tail = data[start >> 3 :]
            if (tail[0] & first_mask) == 0 and not any(tail[1:]):
                break
        if prev is None:
            if code >= len(table):
                raise ValueError(
                    f"corrupt LZW stream: code {code} > table {len(table)}"
                )
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError(f"corrupt LZW stream: code {code} > table {len(table)}")
            table.append(prev + entry[:1])
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1  # early change
        out += entry
        prev = entry
    return bytes(out)

# (sample_format, bits) -> numpy dtype char (endian prefix added later)
_DTYPES = {
    (1, 8): "u1",
    (1, 16): "u2",
    (1, 32): "u4",
    (2, 8): "i1",  # GDAL Int8 (since 3.7) — SampleFormat=2, 8-bit
    (2, 16): "i2",
    (2, 32): "i4",
    (3, 32): "f4",
    (3, 64): "f8",
}

_TYPE_SIZES = {
    1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8,
    13: 4,  # IFD — 4-byte like LONG; libtiff writes tag 330 with it, and
    # without this entry a count>1 SubIFD array is sized 1*count ≤ 4 and
    # misread as inline (the external offset pointer dereferenced as the
    # first SubIFD offset)
    16: 8, 17: 8, 18: 8,  # BigTIFF LONG8 / SLONG8 / IFD8
}
# 13 = IFD (libtiff writes SubIFD pointers with it; layout-identical
# to LONG), 18 = LONG8/IFD8 in BigTIFF
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 8: "h", 9: "i", 11: "f", 12: "d", 13: "I", 16: "Q", 17: "q", 18: "Q"}


@dataclass
class MiniTiff:
    """Header of one parsed mini-TIFF (no pixel data held)."""

    path: str
    width: int
    height: int
    dtype: str  # numpy dtype string WITH endian prefix, e.g. "<f8"
    bytes_per_sample: int
    samples_per_pixel: int
    planar_config: int  # 1 chunky (interleaved), 2 planar (one plane per band)
    compression: int  # 1 none, 8/32946 deflate
    predictor: int  # 1 none, 2 horizontal differencing
    tiled: bool
    block_width: int  # TileWidth, or image width for strips
    block_height: int  # TileLength, or RowsPerStrip
    offsets: list[int]  # strip/tile offsets (planar: plane-major)
    byte_counts: list[int]
    transform: list[float]  # [a, b, c, d, e, f] row-major affine
    nodata: float  # nan when absent
    bits_per_sample: int = 8  # 1/2/4 for sub-byte, else 8*bytes_per_sample
    crs: str | None = None  # "EPSG:<code>" from GeoKeyDirectoryTag, or None
    overview: int = 0  # which IFD this header describes (0 = full res)
    n_overviews: int = 0  # how many overview IFDs follow the first
    has_mask: bool = False  # this IFD carries a FILETYPE_MASK SubIFD
    is_mask: bool = False  # this header IS an internal mask IFD

    @property
    def blocks_across(self) -> int:
        return (self.width + self.block_width - 1) // self.block_width

    @property
    def blocks_down(self) -> int:
        return (self.height + self.block_height - 1) // self.block_height


def _ifd_chain(buf: bytes, bo: str, big: bool, max_ifds: int = 64) -> list[int]:
    """Walk the next-IFD pointers and return every IFD offset in file
    order: chain[0] is the full-resolution image, chain[1:] the COG
    overview pyramid (or further pages).  Capped at ``max_ifds`` so a
    corrupt circular chain cannot loop forever."""
    chain: list[int] = []
    if big:
        (off,) = struct.unpack_from(bo + "Q", buf, 8)
    else:
        (off,) = struct.unpack_from(bo + "I", buf, 4)
    while off and len(chain) < max_ifds:
        if off in chain or off + (8 if big else 2) > len(buf):
            raise ValueError(f"corrupt IFD chain at offset {off}")
        chain.append(off)
        if big:
            (n,) = struct.unpack_from(bo + "Q", buf, off)
            nxt_at = off + 8 + 20 * n
            (off,) = struct.unpack_from(bo + "Q", buf, nxt_at)
        else:
            (n,) = struct.unpack_from(bo + "H", buf, off)
            nxt_at = off + 2 + 12 * n
            (off,) = struct.unpack_from(bo + "I", buf, nxt_at)
    return chain


def _read_ifd_entries(buf: bytes, bo: str, big: bool, ifd_off: int):
    """Yield (tag, type, count, value_offset) for the IFD at ifd_off.
    Classic TIFF: 4-byte offsets, 12-byte entries, <=4 B inline.
    BigTIFF (magic 43): 8-byte offsets, 20-byte entries, <=8 B inline."""
    if big:
        (n,) = struct.unpack_from(bo + "Q", buf, ifd_off)
        first, step, hdr_fmt, off_fmt, inline = ifd_off + 8, 20, "HHQ", "Q", 8
    else:
        (n,) = struct.unpack_from(bo + "H", buf, ifd_off)
        first, step, hdr_fmt, off_fmt, inline = ifd_off + 2, 12, "HHI", "I", 4
    for i in range(n):
        base = first + step * i
        tag, typ, count = struct.unpack_from(bo + hdr_fmt, buf, base)
        size = _TYPE_SIZES.get(typ, 1) * count
        val_base = base + step - inline
        if size <= inline:
            val_off = val_base
        else:
            (val_off,) = struct.unpack_from(bo + off_fmt, buf, val_base)
        yield tag, typ, count, val_off


def _values(buf: bytes, bo: str, typ: int, count: int, off: int):
    if typ == 2:  # ASCII
        raw = buf[off : off + count]
        return raw.split(b"\x00")[0].decode("ascii", "replace")
    if typ in (5, 10):  # RATIONAL
        out = []
        fmt = "II" if typ == 5 else "ii"
        for i in range(count):
            num, den = struct.unpack_from(bo + fmt, buf, off + 8 * i)
            out.append(num / den if den else math.nan)
        return out
    fmt = _TYPE_FMT.get(typ)
    if fmt is None:
        raise ValueError(f"unsupported TIFF field type {typ}")
    return list(struct.unpack_from(bo + str(count) + fmt, buf, off))


def _parse_tags(buf: bytes, bo: str, big: bool, ifd_off: int) -> dict[int, object]:
    tags: dict[int, object] = {}
    for tag, typ, count, off in _read_ifd_entries(buf, bo, big, ifd_off):
        try:
            tags[tag] = _values(buf, bo, typ, count, off)
        except ValueError:
            # an exotic field type (SBYTE, UNDEFINED, IFD, vendor
            # extensions) on a tag we never read must not reject the
            # file; the required tags below all use standard types and
            # fail loudly through their own checks when absent
            continue
    return tags


def _geokeys_to_crs(vals) -> str | None:
    """Decode GeoKeyDirectoryTag (34735) into an "EPSG:<code>" string.

    The tag is a flat SHORT array: a 4-value header (KeyDirectoryVersion,
    KeyRevision, MinorRevision, NumberOfKeys) followed by one 4-value
    entry per key (KeyID, TIFFTagLocation, Count, Value) — GeoTIFF 1.1
    §B.1.1.  Only SHORT-valued keys stored inline (TIFFTagLocation=0)
    matter for the CRS code: GTModelTypeGeoKey (1024) selects whether
    GeographicTypeGeoKey (2048) or ProjectedCSTypeGeoKey (3072) names
    the CRS.  Code 32767 (user-defined) and 0 decode to None — the
    full definition would live in GeoDoubleParams/GeoAsciiParams,
    which no EPSG-coded production COG needs."""
    if not isinstance(vals, list) or len(vals) < 4:
        return None
    n = int(vals[3])
    keys: dict[int, int] = {}
    for i in range(n):
        ent = vals[4 + 4 * i : 8 + 4 * i]
        if len(ent) < 4:
            break
        kid, loc, _cnt, val = (int(v) for v in ent)
        if loc == 0:  # inline SHORT value
            keys[kid] = val
    model = keys.get(1024)
    if model == 1:
        code = keys.get(3072)
    elif model == 2:
        code = keys.get(2048)
    else:  # model absent/user-defined: take whichever code exists
        code = keys.get(2048) or keys.get(3072)
    if code in (None, 0, 32767):
        return None
    return f"EPSG:{code}"


def read_header(path: str, overview: int = 0, mask: bool = False) -> MiniTiff:
    """Parse the header of a classic or BigTIFF file — striped or
    tiled, none/LZW/deflate/PackBits-compressed, predictor 1/2/3,
    single- or multi-band, 1-bit bilevel masks, sparse tiles
    (TileOffsets=0), internal mask SubIFDs.

    ``overview`` selects the IFD: 0 (default) is the full-resolution
    image, 1.. walk the COG overview pyramid.  Overview IFDs without
    their own GeoTIFF tags (the GDAL convention) inherit the
    full-resolution transform scaled by the size ratio and the
    full-resolution nodata.

    ``mask=True`` parses the selected IFD's internal mask instead: the
    SubIFD (tag 330) flagged FILETYPE_MASK in NewSubfileType — GDAL's
    .msk-in-the-same-file convention.  The mask header inherits the
    parent's transform (scaled by size ratio if the mask is reduced
    resolution) and gets ``nodata=0.0``, so the standard unpivot →
    nodata-filter chain drops masked-out (bit 0) pixels with no
    special-casing downstream."""
    with open(path, "rb") as f:
        # mmap, not read(): the header pass touches only the IFD
        # chain + externalized tag arrays (a few KB), so the driver
        # must not fault in a multi-GB BigTIFF's pixel body just to
        # plan the tile grid.  The mapping outlives the file handle;
        # every slice taken during parse is a bytes copy, so nothing
        # escapes — close the mapping deterministically on exit
        # rather than relying on refcount GC (32 pooled header threads
        # would otherwise accumulate live mappings on non-CPython or
        # when a traceback pins the frame).  Immutable-file
        # assumption: truncating a file under an active mapping is
        # SIGBUS by OS contract; the fallback read() path is used
        # where mapping fails.
        try:
            buf = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
        except (ValueError, OSError):  # empty file / unmappable fs
            buf = f.read()
    try:
        return _parse_header(path, buf, overview, mask)
    except struct.error as e:
        # an IFD, entry or tag array that runs past EOF: a truncated
        # file, reported like every other malformed header
        raise ValueError(f"{path}: truncated TIFF header ({e})") from e
    finally:
        if isinstance(buf, mmap.mmap):
            buf.close()


def _mask_subifd_tags(buf, bo: str, big: bool, parent_tags: dict):
    """Resolve a parent IFD's FILETYPE_MASK SubIFD's tags, or None.
    Tag 330 holds one offset per sub-image (type LONG or IFD); the
    mask is the one whose NewSubfileType has bit 2 (FILETYPE_MASK=4)
    set — TIFF 6.0 tag 254 semantics, the GDAL internal-mask layout."""
    subs = parent_tags.get(_SUB_IFDS)
    if not subs:
        return None
    for so in subs if isinstance(subs, list) else [subs]:
        t = _parse_tags(buf, bo, big, int(so))
        nst = t.get(_NEW_SUBFILE_TYPE, 0)
        nst = nst[0] if isinstance(nst, list) else nst
        if int(nst) & 4:
            return t
    return None


def _parse_header(path: str, buf, overview: int, mask: bool = False) -> MiniTiff:
    if len(buf) < 8:
        raise ValueError(f"{path}: not a TIFF (too short)")
    order = buf[:2]
    if order == b"II":
        bo = "<"
    elif order == b"MM":
        bo = ">"
    else:
        raise ValueError(f"{path}: bad TIFF byte-order mark {order!r}")
    (magic,) = struct.unpack_from(bo + "H", buf, 2)
    big = magic == 43
    if big:
        off_size, zero = struct.unpack_from(bo + "HH", buf, 4)
        if off_size != 8 or zero != 0:
            raise ValueError(f"{path}: malformed BigTIFF header ({off_size}, {zero})")
    elif magic != 42:
        raise ValueError(f"{path}: bad TIFF magic {magic}")

    chain = _ifd_chain(buf, bo, big)
    if not chain:
        raise ValueError(f"{path}: no IFD")
    if not 0 <= overview < len(chain):
        raise ValueError(
            f"{path}: overview {overview} out of range (file has "
            f"{len(chain) - 1} overview IFD(s))"
        )
    tags = _parse_tags(buf, bo, big, chain[overview])
    has_mask = False
    if mask:
        mtags = _mask_subifd_tags(buf, bo, big, tags)
        if mtags is None:
            raise ValueError(
                f"{path}: IFD {overview} has no FILETYPE_MASK SubIFD "
                "(tag 330 absent or no sub-image with NewSubfileType bit 4)"
            )
        tags = mtags
    else:
        has_mask = _mask_subifd_tags(buf, bo, big, tags) is not None
    tags0 = tags if overview == 0 and not mask else _parse_tags(buf, bo, big, chain[0])

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            return default
        return v[0] if isinstance(v, list) else v

    width, height = int(one(_W, 0)), int(one(_H, 0))
    if width <= 0 or height <= 0:
        raise ValueError(f"{path}: missing ImageWidth/ImageLength")
    compression = int(one(_COMPRESSION, 1))
    if compression not in (1, _LZW, _PACKBITS) and compression not in _DEFLATE:
        raise ValueError(
            f"{path}: unsupported compression (tag 259={compression}); "
            "mini reader handles 1 (none), 5 (LZW), 8/32946 (deflate) "
            "and 32773 (PackBits) only"
        )
    predictor = int(one(_PREDICTOR, 1))
    if predictor not in (1, 2, 3):
        raise ValueError(
            f"{path}: unsupported predictor (tag 317={predictor}); "
            "mini reader handles 1 (none), 2 (horizontal differencing) "
            "and 3 (floating-point byte shuffle) only"
        )
    spp = int(one(_SAMPLES_PER_PX, 1))
    if spp < 1:
        raise ValueError(f"{path}: bad SamplesPerPixel {spp}")
    planar = int(one(_PLANAR, 1))
    if planar not in (1, 2):
        raise ValueError(f"{path}: bad PlanarConfiguration {planar}")
    bits_all = tags.get(_BITS, [8])
    fmt_all = tags.get(_SAMPLE_FORMAT, [1])
    if isinstance(bits_all, list) and len(set(bits_all)) > 1:
        raise ValueError(f"{path}: mixed BitsPerSample {bits_all} not supported")
    if isinstance(fmt_all, list) and len(set(fmt_all)) > 1:
        raise ValueError(f"{path}: mixed SampleFormat {fmt_all} not supported")
    bits = int(one(_BITS, 8))
    sample_format = int(one(_SAMPLE_FORMAT, 1))
    if predictor == 2 and sample_format == 3:
        raise ValueError(
            f"{path}: Predictor=2 on floating-point samples is not meaningful "
            "(use Predictor=3, the float byte shuffle)"
        )
    if predictor == 3 and sample_format != 3:
        raise ValueError(
            f"{path}: Predictor=3 is defined for floating-point samples only "
            f"(tag 339={sample_format})"
        )
    if bits in (1, 2, 4):
        # sub-byte unsigned samples, decoded as uint8: 1-bit bilevel
        # masks plus the GDAL NBITS=2/4 grayscale convention.  Bits are
        # MSB-first within each byte and every row starts on a byte
        # boundary (TIFF 6.0 §4's bilevel rule, which GDAL applies to
        # all sub-byte depths).
        if int(one(_FILL_ORDER, 1)) != 1:
            # silently unpacking an LSB-first stream MSB-first would
            # invert the bit order per byte — reject loudly
            raise ValueError(
                f"{path}: FillOrder=2 (LSB-first) not supported for {bits}-bit samples"
            )
        if sample_format != 1:
            raise ValueError(
                f"{path}: {bits}-bit samples must be unsigned (tag 339={sample_format})"
            )
        if spp != 1:
            raise ValueError(
                f"{path}: {bits}-bit supported for SamplesPerPixel=1 only (got {spp})"
            )
        if predictor != 1:
            raise ValueError(f"{path}: predictor {predictor} is not defined for {bits}-bit samples")
        np_char, bps = "u1", 1
    else:
        np_char = _DTYPES.get((sample_format, bits))
        if np_char is None:
            raise ValueError(f"{path}: unsupported sample (format={sample_format}, bits={bits})")
        bps = bits // 8

    tiled = _TILE_OFFSETS in tags or _TILE_WIDTH in tags
    if tiled:
        block_w = int(one(_TILE_WIDTH, 0))
        block_h = int(one(_TILE_LENGTH, 0))
        if block_w <= 0 or block_h <= 0:
            raise ValueError(f"{path}: tiled layout missing TileWidth/TileLength")
        offsets = [int(v) for v in tags.get(_TILE_OFFSETS, [])]
        byte_counts = [int(v) for v in tags.get(_TILE_COUNTS, [])]
        if not offsets:
            raise ValueError(f"{path}: missing TileOffsets")
    else:
        block_w = width
        block_h = int(one(_ROWS_PER_STRIP, height))
        offsets = [int(v) for v in tags.get(_STRIP_OFFSETS, [])]
        byte_counts = [int(v) for v in tags.get(_STRIP_COUNTS, [])]
        if not offsets:
            raise ValueError(f"{path}: missing StripOffsets")

    per_plane = ((height + block_h - 1) // block_h) * ((width + block_w - 1) // block_w)
    n_blocks = per_plane * (spp if planar == 2 else 1)
    if len(offsets) < n_blocks:
        raise ValueError(f"{path}: {len(offsets)} block offsets listed, the grid needs {n_blocks}")
    if not byte_counts:
        if compression != 1:
            raise ValueError(f"{path}: compressed TIFF missing byte counts (tag 279/325)")
        # uncompressed: counts are implied by the layout
        byte_counts = []
        row_samples = block_w * (spp if planar == 1 else 1)
        # sub-byte rows are bit-packed but byte-aligned per row
        row_bytes = (row_samples * bits + 7) // 8 if bits < 8 else row_samples * bps
        for i in range(len(offsets)):
            plane_idx = i % per_plane if planar == 2 else i
            if tiled:
                rows = block_h  # tiles are always padded to full size
            else:
                r0 = (plane_idx) * block_h
                rows = min(block_h, height - r0)
            byte_counts.append(rows * row_bytes)
    if len(byte_counts) != len(offsets):
        raise ValueError(f"{path}: offsets/byte-counts length mismatch")

    # GeoTIFF georeferencing: pixel scale + one tiepoint -> affine.
    # Overview IFDs rarely carry their own geo tags (GDAL convention);
    # inherit the full-resolution transform scaled by the size ratio —
    # same extent, coarser pixels.
    scale = tags.get(_MODEL_PIXEL_SCALE)
    tie = tags.get(_MODEL_TIEPOINT)
    if scale and tie and len(tie) >= 6:
        sx, sy = float(scale[0]), float(scale[1])
        # tiepoint: (i, j, k, x, y, z) — raster (i,j) pinned to model (x,y)
        i, j, x, y = float(tie[0]), float(tie[1]), float(tie[3]), float(tie[4])
        c = x - i * sx
        f = y + j * sy
        transform = [sx, 0.0, c, 0.0, -sy, f]
    elif (overview > 0 or mask) and tags0.get(_MODEL_PIXEL_SCALE) and tags0.get(_MODEL_TIEPOINT):
        # inherit from the parent image: full-res for an overview, the
        # owning IFD for a mask (itself already scale-inherited when
        # the mask hangs off an overview); same extent, pixels scaled
        # by the size ratio (ratio 1 for a same-size internal mask)
        full = read_header(path, overview=overview if mask else 0)
        fw, fh = full.width, full.height
        transform = [
            full.transform[0] * fw / width,
            full.transform[1],
            full.transform[2],
            full.transform[3],
            full.transform[4] * fh / height,
            full.transform[5],
        ]
    else:
        transform = [1.0, 0.0, 0.0, 0.0, -1.0, float(height)]

    # CRS from the geokey directory; overview/mask IFDs carry no geo
    # tags under the GDAL convention, so they inherit the full-res
    # image's CRS exactly like the transform and nodata above
    crs = _geokeys_to_crs(tags.get(_GEO_KEY_DIRECTORY))
    if crs is None and (overview > 0 or mask):
        crs = _geokeys_to_crs(tags0.get(_GEO_KEY_DIRECTORY))

    nodata = math.nan
    nd = tags.get(_GDAL_NODATA)
    if nd is None and overview > 0:
        nd = tags0.get(_GDAL_NODATA)
    if isinstance(nd, str):
        try:
            nodata = float(nd.strip())
        except ValueError:
            pass
    if mask:
        # internal masks carry no nodata tag; bit 0 = masked-out is
        # the FILETYPE_MASK contract, so declaring nodata=0 makes the
        # standard nodata-filter chain drop masked pixels directly
        nodata = 0.0

    return MiniTiff(
        path=os.path.abspath(path),
        width=width,
        height=height,
        dtype=bo + np_char,
        bytes_per_sample=bps,
        samples_per_pixel=spp,
        planar_config=planar,
        compression=compression,
        predictor=predictor,
        tiled=tiled,
        block_width=block_w,
        block_height=block_h,
        offsets=offsets,
        byte_counts=byte_counts,
        transform=transform,
        nodata=nodata,
        bits_per_sample=bits,
        crs=crs,
        overview=overview,
        n_overviews=len(chain) - 1,
        has_mask=has_mask,
        is_mask=mask,
    )


def _decode_block(hdr: MiniTiff, f, bx: int, by: int, sample: int):
    """Decode one strip/tile and return the 2D array of ONE sample's
    values for that block's VALID region (edge tiles clipped).  One
    seek + one read of exactly the block's byte range — the same I/O
    unit rasterio/GDAL block reads use."""
    per_plane = hdr.blocks_down * hdr.blocks_across
    plane_idx = by * hdr.blocks_across + bx
    if hdr.planar_config == 2:
        idx = sample * per_plane + plane_idx
        ch, nch = 0, 1
    else:
        idx = plane_idx
        ch, nch = sample, hdr.samples_per_pixel

    if hdr.offsets[idx] == 0:
        # sparse block (GDAL SPARSE_OK convention): TileOffsets=0 means
        # the block is not stored — synthesize it filled with nodata
        # (or 0 when no nodata is declared, GDAL's fill).  No I/O at
        # all: sparse oceans/deserts in a 100 TB COG mosaic cost zero
        # bytes read, only this in-memory fill.
        vr = min(hdr.block_height, hdr.height - by * hdr.block_height)
        vc = min(hdr.block_width, hdr.width - bx * hdr.block_width)
        np_dt = np.dtype("u1" if hdr.bits_per_sample < 8 else hdr.dtype)
        fill = hdr.nodata
        if fill != fill:  # no declared nodata -> zeros, GDAL's fill
            fill = 0
        return np.full((vr, vc), fill, dtype=np_dt)

    f.seek(hdr.offsets[idx])
    raw = f.read(hdr.byte_counts[idx])
    if len(raw) < hdr.byte_counts[idx]:
        raise ValueError(
            f"{hdr.path}: block {idx} truncated ({len(raw)} of "
            f"{hdr.byte_counts[idx]} bytes at offset {hdr.offsets[idx]})"
        )
    if hdr.compression in _DEFLATE:
        try:
            raw = zlib.decompress(raw)
        except zlib.error as e:
            raise ValueError(f"{hdr.path}: block {idx}: bad deflate data ({e})") from e
    elif hdr.compression == _LZW:
        raw = _lzw_decode(raw)
    elif hdr.compression == _PACKBITS:
        raw = _packbits_decode(raw)

    if hdr.tiled:
        rows, cols = hdr.block_height, hdr.block_width  # tiles are padded
    else:
        rows = min(hdr.block_height, hdr.height - by * hdr.block_height)
        cols = hdr.width
    if hdr.bits_per_sample < 8:
        # MSB-first bit-packed rows, each row byte-aligned (TIFF 6.0 §4;
        # GDAL NBITS=2/4 packs the same way).  Unpack to single bits,
        # then fold each sample's `nb` bits back together MSB-first.
        nb = hdr.bits_per_sample
        row_bytes = (cols * nb + 7) // 8
        a8 = np.frombuffer(raw, dtype="u1", count=rows * row_bytes).reshape(
            rows, row_bytes
        )
        u = np.unpackbits(a8, axis=1)[:, : cols * nb].reshape(rows, cols, nb)
        weights = (1 << np.arange(nb - 1, -1, -1)).astype("u1")
        a = (u * weights).sum(axis=2, dtype="u1").reshape(rows, cols, 1)
    elif hdr.predictor == 3:
        # float byte shuffle: per row, bytes are stored plane-major
        # (all MSBs first) with horizontal BYTE differencing applied;
        # undo the diff with a u1 cumsum, then reassemble each value's
        # big-endian bytes from the planes
        bps, row_vals = hdr.bytes_per_sample, cols * nch
        a8 = np.frombuffer(raw, dtype="u1", count=rows * row_vals * bps).reshape(
            rows, row_vals * bps
        )
        a8 = np.cumsum(a8, axis=1, dtype="u1")
        planes = a8.reshape(rows, bps, row_vals)
        seq = np.ascontiguousarray(planes.transpose(0, 2, 1))
        a = (
            seq.reshape(rows, row_vals * bps)
            .view(">" + hdr.dtype[1:])
            .astype(hdr.dtype)
            .reshape(rows, cols, nch)
        )
    else:
        a = np.frombuffer(raw, dtype=hdr.dtype, count=rows * cols * nch).reshape(
            rows, cols, nch
        )
        if hdr.predictor == 2:
            # horizontal differencing is per sample channel between
            # adjacent pixels; undo with a modular cumsum in the
            # native width
            a = np.cumsum(a, axis=1, dtype=a.dtype)
    a = a[:, :, ch]
    # clip edge blocks to the image's valid region
    vr = min(rows, hdr.height - by * hdr.block_height)
    vc = min(cols, hdr.width - bx * hdr.block_width)
    return a[:vr, :vc]


def _read_window_array(
    hdr: MiniTiff, col_off: int, row_off: int, width: int, height: int, sample: int = 0
):
    """Read one window of one band as a (height, width) float64 array,
    touching only the strips/tiles that cover it — the same I/O
    discipline rasterio block reads have, so a decode task's bytes read
    are its own windows' blocks."""
    if width <= 0 or height <= 0:
        raise ValueError(f"bad window size {width}x{height}")
    if (
        col_off < 0
        or row_off < 0
        or col_off + width > hdr.width
        or row_off + height > hdr.height
    ):
        raise ValueError(
            f"window ({col_off},{row_off},{width},{height}) exceeds "
            f"raster {hdr.width}x{hdr.height}"
        )
    if not 0 <= sample < hdr.samples_per_pixel:
        raise ValueError(
            f"sample {sample} out of range (SamplesPerPixel={hdr.samples_per_pixel})"
        )
    out = np.empty((height, width), dtype="f8")
    bw, bh = hdr.block_width, hdr.block_height
    with open(hdr.path, "rb") as f:
        for by in range(row_off // bh, (row_off + height - 1) // bh + 1):
            for bx in range(col_off // bw, (col_off + width - 1) // bw + 1):
                block = _decode_block(hdr, f, bx, by, sample)
                # intersection of the window and this block, image coords
                r0 = max(row_off, by * bh)
                r1 = min(row_off + height, by * bh + block.shape[0])
                c0 = max(col_off, bx * bw)
                c1 = min(col_off + width, bx * bw + block.shape[1])
                out[r0 - row_off : r1 - row_off, c0 - col_off : c1 - col_off] = block[
                    r0 - by * bh : r1 - by * bh, c0 - bx * bw : c1 - bx * bw
                ]
    return out


def read_window(
    hdr: MiniTiff, col_off: int, row_off: int, width: int, height: int, sample: int = 0
) -> list[float]:
    """:func:`_read_window_array` as a row-major float list."""
    return _read_window_array(hdr, col_off, row_off, width, height, sample).ravel().tolist()


def _band_names(hdrs: list[MiniTiff], band_ids: list | None) -> list[list[str]]:
    """Resolve per-file band-name lists.  Default: b1..bN numbered
    ACROSS files in (file, sample) order — the reference's positional
    convention, naturally extended so one two-band file yields b1, b2.
    Explicit band_ids: one name per band in the same order, or one
    name/list per file."""
    if band_ids is None:
        names, n = [], 0
        for hdr in hdrs:
            names.append([f"b{n + s + 1}" for s in range(hdr.samples_per_pixel)])
            n += hdr.samples_per_pixel
        return names
    total = sum(h.samples_per_pixel for h in hdrs)
    if len(band_ids) == len(hdrs) and all(
        isinstance(b, (list, tuple)) or h.samples_per_pixel == 1
        for b, h in zip(band_ids, hdrs)
    ):
        out = []
        for b, hdr in zip(band_ids, hdrs):
            lst = list(b) if isinstance(b, (list, tuple)) else [b]
            if len(lst) != hdr.samples_per_pixel:
                raise ValueError(
                    f"band_ids for {hdr.path}: got {len(lst)} names for "
                    f"{hdr.samples_per_pixel} samples"
                )
            out.append([str(x) for x in lst])
        return out
    if len(band_ids) != total:
        raise ValueError(
            f"band_ids must match the total band count across files "
            f"({total}); got {len(band_ids)}"
        )
    out, i = [], 0
    for hdr in hdrs:
        out.append([str(x) for x in band_ids[i : i + hdr.samples_per_pixel]])
        i += hdr.samples_per_pixel
    return out


def minitiff_to_tiles(
    spark: SparkSession,
    paths: list[str],
    band_ids: list | None = None,
    tile_size: int | None = None,
    overview_level: int = 0,
    internal_mask: bool = False,
) -> DataFrame:
    """Distributed GeoTIFF → tile-table conversion: driver header pass
    → window-grid rows → executors read their own windows via
    mapInArrow.  Band ids default to b1..bN positionally across files
    and samples (the reference's multi-raster convention).

    ``tile_size=None`` (default) aligns the engine grid with the FIRST
    file's native TileWidth×TileLength so each task decompresses exactly
    its own file blocks (the COG access pattern); a striped first file
    gives 512.  Every file of the call is cut on that one grid, so a
    ``tile_id`` names the same window in every band, whatever each
    file's own block layout — the zip by ``tile_id`` in raster2points
    relies on it.  Multi-band files expand to one tile-table band per
    sample.

    ``overview_level=k`` reads the k-th COG overview IFD instead of the
    full-resolution image — for downsample-shaped queries this touches
    1/4^k of the bytes, the cheap decade lever at 100 TB.  The overview
    grid carries its own (coarser) transform, so downstream affine
    coords stay correct with no special-casing.

    ``internal_mask=True`` reads each file's internal FILETYPE_MASK
    SubIFD (GDAL's .msk-in-file convention) as the band instead of the
    image — the mask arrives as a uint8 0/1 tile band with nodata=0,
    so unioning it with the image band and running the standard
    mask-first chain drops masked pixels exactly like a separate mask
    raster would.
    """

    def _resolve(p: str) -> MiniTiff:
        return read_header(p, overview=overview_level, mask=internal_mask)

    meta = []
    if len(paths) > 1:
        # headers are a few KB of I/O each; at thousands of COGs a
        # sequential pass serializes storage latency on the driver —
        # pool the reads like Spark's own parallel parquet-footer
        # listing (order preserved by ex.map)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(32, len(paths))) as ex:
            hdrs = list(ex.map(_resolve, paths))
    else:
        hdrs = [_resolve(paths[0])]
    names = _band_names(hdrs, band_ids)
    bands: list[tuple[MiniTiff, int]] = []
    tw, th = _native_tile(hdrs[0]) if tile_size is None else (tile_size, tile_size)
    for hdr, file_bands in zip(hdrs, names):
        grid = window_grid(hdr.width, hdr.height, tw, tile_height=th)
        dtype = np.dtype(hdr.dtype).name
        for sample, band_id in enumerate(file_bands):
            bands.append((hdr, sample))
            meta.extend(
                (
                    band_id,
                    w["tile_id"],
                    w["col_off"],
                    w["row_off"],
                    w["width"],
                    w["height"],
                    hdr.transform,
                    hdr.nodata,
                    dtype,
                    len(bands) - 1,
                )
                for w in grid
            )
    from raster2points_spark.io import local_df

    # the local window list is already sliced into min(#windows, cores)
    # partitions; a hash repartition on top would add an exchange that
    # AQE coalesces back into one decode task
    meta_df = local_df(
        spark,
        meta,
        "band_id string, tile_id long, col_off int, row_off int, width int, "
        "height int, transform array<double>, nodata double, dtype string, src int",
    )
    return meta_df.mapInArrow(lambda it: _tile_batches(it, bands), TILE_SCHEMA_DDL)


def _native_tile(hdr: MiniTiff) -> tuple[int, int]:
    """Default window shape: a tiled file's own TileWidth×TileLength, so
    each window is one block; 512² for strips."""
    return (hdr.block_width, hdr.block_height) if hdr.tiled else (512, 512)


def _payload(a):
    """One-row Arrow ``list<double>`` over ``a``'s float64 buffer
    (no per-pixel Python objects), NaN pixels as NULL elements — the
    tile table's contract."""
    import pyarrow as pa

    values = pa.array(a.ravel(), from_pandas=True)
    return pa.ListArray.from_arrays(pa.array([0, a.size], pa.int32()), values)


def _tile_batches(batches, bands):
    """mapInArrow kernel of :func:`minitiff_to_tiles`: every window-list
    row (the tile table's metadata plus ``src``, an index into
    ``bands``, the driver's (header, sample) pairs) becomes one
    tile-table row carrying its decoded window.  One batch per window,
    so a task holds one payload at a time."""
    import pyarrow as pa

    for batch in batches:
        meta = batch.drop_columns(["src"])
        cols = [
            batch.column(n).to_pylist() for n in ("src", "col_off", "row_off", "width", "height")
        ]
        for i, (s, c, r, w, h) in enumerate(zip(*cols)):
            row = meta.slice(i, 1)
            data = _payload(_read_window_array(bands[s][0], c, r, w, h, bands[s][1]))
            yield pa.RecordBatch.from_arrays(
                [*row.columns, data], names=[*row.schema.names, "data"]
            )


def _read_clipped(
    hdr: MiniTiff, col_off: int, row_off: int, width: int, height: int, sample: int
):
    """Band ``hdr``'s pixels at another band's window (col_off, row_off,
    width, height): read clipped to this raster's extent and NaN-padded
    back to the window's shape, or None when the window lies wholly
    outside the raster (``validate=False`` inputs of other dims)."""
    w, h = min(width, hdr.width - col_off), min(height, hdr.height - row_off)
    if w <= 0 or h <= 0:
        return None
    a = _read_window_array(hdr, col_off, row_off, w, h, sample)
    if (h, w) == (height, width):
        return a
    out = np.full((height, width), np.nan)
    out[:h, :w] = a
    return out


def _zip_batches(batches, bands):
    """mapInArrow kernel of :func:`zipped_windows` over the driver's
    (header, sample) pairs.  For each window-list row it reads band 1's
    window and skips the window when no pixel holds data
    (operators.grid.valid_pixels).  Otherwise it reads every other band
    at the same pixels (:func:`_read_clipped`) and yields the window's
    points (operators.grid.points_from_windows).  One batch per window,
    so a task holds one window's arrays at a time."""
    from raster2points_spark.operators.grid import points_from_windows, valid_pixels

    (hdr, sample), others = bands[0], bands[1:]
    nodata = [h.nodata for h, _ in bands]
    for batch in batches:
        cols = [batch.column(n).to_pylist() for n in ("col_off", "row_off", "width", "height")]
        for c, r, w, h in zip(*cols):
            mask = _read_window_array(hdr, c, r, w, h, sample)
            if not valid_pixels(mask, nodata[0]).any():
                continue
            rest = [_read_clipped(o, c, r, w, h, s) for o, s in others]
            yield points_from_windows(mask, rest, nodata, hdr.transform, c, r)


def zipped_windows(
    spark: SparkSession, bands: list[tuple[MiniTiff, int]], partitions: int | None = None
) -> DataFrame:
    """Points of GeoTIFF bands, decoded in ONE mapInArrow stage:
    ``lon, lat, v0, …, vN`` (float64) for every pixel whose band-1
    value holds data, NaN and NoData values of bands 2..N as NULL —
    the input of operators.grid.project_points.  ``bands`` pairs each
    band's header (at the level to read) with its sample index, band 1
    (the mask) first.

    The window list is band 1's native block grid (:func:`_native_tile`);
    every other band is read at the same pixel positions, so bands of
    other block layouts or, with ``validate=False``, other dims zip
    pixel by pixel — pixels a band does not cover come out NULL.
    Windows with no valid band-1 pixel are skipped before any other
    band is read.  ``partitions`` repartitions the window list (not the
    decoded points) before the decode."""
    from raster2points_spark.io import local_df

    hdr = bands[0][0]
    wins = local_df(
        spark,
        [
            (w["col_off"], w["row_off"], w["width"], w["height"])
            for w in window_grid(hdr.width, hdr.height, *_native_tile(hdr))
        ],
        "col_off int, row_off int, width int, height int",
    )
    if partitions:
        wins = wins.repartition(partitions)
    schema = ", ".join(["lon double", "lat double", *(f"v{i} double" for i in range(len(bands)))])
    return wins.mapInArrow(lambda it: _zip_batches(it, bands), schema)


CATALOG_SCHEMA_DDL = (
    "file string, width int, height int, n_bands int, dtype string, "
    "compression int, tiled boolean, bits int, n_overviews int, "
    "has_mask boolean, crs string, nodata double, x0 double, y0 double, "
    "x1 double, y1 double"
)


def pick_overview(path: str, factor: float) -> int:
    """Select the COG overview level for a requested decimation
    factor: the COARSEST IFD whose decimation (full_width /
    level_width) does not exceed ``factor`` — GDAL's overview
    selection rule, so a factor-4 query reads the 1/16-bytes level
    when the pyramid has one and degrades toward full resolution when
    it doesn't.  factor < 2 (or no overviews) → 0 (full res)."""
    full = read_header(path, overview=0)
    best_k, best_dec = 0, 1.0
    for k in range(1, full.n_overviews + 1):
        dec = full.width / read_header(path, overview=k).width
        if dec <= factor + 1e-9 and dec > best_dec:
            best_k, best_dec = k, dec
    return best_k


def minitiff_catalog(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Distributed raster catalog: one metadata row per GeoTIFF —
    dims, band count, dtype, codec, layout, overview/mask presence,
    CRS (EPSG code from the geokey directory), nodata and the
    georeferenced bounds from the affine transform.

    The catalog is how a 100 TB COG mosaic is ENTERED: planning
    (which files intersect the query extent, which carry overviews,
    which dtypes mix) needs only headers, and at thousands-of-files
    scale the header parses themselves are the bottleneck — so they
    run executor-side (mapInPandas over the path list, each task
    reading only its files' IFD chains, a few KB per file) instead of
    serializing on the driver.  Spark's own parquet-footer listing
    uses the same shape.  Row order is path-independent (sort
    downstream); the `file` column is the basename so catalogs are
    relocatable across mounts."""
    import pandas as pd

    def parse(batches):
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                h = read_header(p)
                t = h.transform
                rows.append(
                    {
                        "file": os.path.basename(p),
                        "width": h.width,
                        "height": h.height,
                        "n_bands": h.samples_per_pixel,
                        "dtype": np.dtype(h.dtype).name,
                        "compression": h.compression,
                        "tiled": h.tiled,
                        "bits": h.bits_per_sample,
                        "n_overviews": h.n_overviews,
                        "has_mask": h.has_mask,
                        "crs": h.crs,
                        "nodata": h.nodata,
                        "x0": t[2],
                        "y0": t[5] + h.height * t[4],
                        "x1": t[2] + h.width * t[0],
                        "y1": t[5],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file", "width", "height", "n_bands", "dtype",
                    "compression", "tiled", "bits", "n_overviews",
                    "has_mask", "crs", "nodata", "x0", "y0", "x1", "y1",
                ],
            )

    from raster2points_spark.io import local_df

    files = local_df(spark, [(p,) for p in paths], "path string")
    # ~1k header parses per task: enough files per task to amortize
    # scheduling, enough tasks to spread thousands of COGs
    n_parts = max(1, min(len(paths) // 1000 + 1, 256))
    return files.repartition(n_parts).mapInPandas(parse, schema=CATALOG_SCHEMA_DDL)
