"""sinks/geotiff.py — encoder + distributed sink contract.

The encoder is verified against the INDEPENDENT reader
(sources/minitiff.py, itself pinned by the committed golden fixtures
and tests/test_minitiff.py's separate fixture writer), so a bug would
have to be mirrored across two implementations written against the
TIFF 6.0 spec from opposite directions to slip through.
"""

from __future__ import annotations

import math
import os
import struct

import pytest

from raster2points_spark.sinks.geotiff import encode_geotiff, write_geotiffs
from raster2points_spark.sources.minitiff import read_header, read_window

W, H = 20, 18  # deliberately NOT tile-aligned: right/bottom padding
VALS = [float(r * W + c) if (r * W + c) % 7 else -9999.0 for r in range(H) for c in range(W)]


def _write(tmp_path, name="a.tif", **kw):
    data, n_sparse = encode_geotiff([VALS], W, H, tile=(16, 16), **kw)
    p = str(tmp_path / name)
    with open(p, "wb") as f:
        f.write(data)
    return p, data, n_sparse


def test_encode_is_byte_stable(tmp_path):
    d1, _ = encode_geotiff([VALS], W, H, tile=(16, 16))
    d2, _ = encode_geotiff([VALS], W, H, tile=(16, 16))
    assert d1 == d2


def test_roundtrip_values_transform_nodata(tmp_path):
    p, _, n_sparse = _write(tmp_path, pixel_scale=(0.25, 0.5), tiepoint=(0, 0, 0, -3.0, 52.0, 0))
    assert n_sparse == 0
    hdr = read_header(p)
    assert (hdr.width, hdr.height) == (W, H)
    assert hdr.tiled and (hdr.block_width, hdr.block_height) == (16, 16)
    assert hdr.compression == 8 and hdr.samples_per_pixel == 1
    assert hdr.nodata == -9999.0
    # GDAL affine from pixel scale + tiepoint: a=sx, e=-sy, c/f=origin
    assert hdr.transform == [0.25, 0.0, -3.0, 0.0, -0.5, 52.0]
    assert read_window(hdr, 0, 0, W, H) == VALS


def test_sparse_tiles_offset_zero_and_synthesized(tmp_path):
    # bottom-right 16x16-padded tile region all nodata -> stored sparse
    vals = [
        -9999.0 if (r >= 16 and c >= 16) else float(r * W + c)
        for r in range(H)
        for c in range(W)
    ]
    data, n_sparse = encode_geotiff([vals], W, H, tile=(16, 16), sparse=True)
    assert n_sparse == 1
    p = str(tmp_path / "sp.tif")
    with open(p, "wb") as f:
        f.write(data)
    hdr = read_header(p)
    assert hdr.offsets.count(0) == 1 and hdr.byte_counts.count(0) == 1
    assert read_window(hdr, 0, 0, W, H) == vals
    # the sparse variant must be strictly smaller than the dense one
    dense, _ = encode_geotiff([vals], W, H, tile=(16, 16), sparse=False)
    assert len(data) < len(dense)


def test_multiband_chunky_roundtrip(tmp_path):
    b2 = [v * 2.0 if v != -9999.0 else -9999.0 for v in VALS]
    data, _ = encode_geotiff([VALS, b2], W, H, tile=(16, 16))
    p = str(tmp_path / "mb.tif")
    with open(p, "wb") as f:
        f.write(data)
    hdr = read_header(p)
    assert hdr.samples_per_pixel == 2 and hdr.planar_config == 1
    assert read_window(hdr, 0, 0, W, H, sample=0) == VALS
    assert read_window(hdr, 0, 0, W, H, sample=1) == b2


def test_dtypes_roundtrip(tmp_path):
    for dtype, vals in [
        ("f4", [float(i) for i in range(W * H)]),
        ("i2", [float(i - 100) for i in range(W * H)]),
        ("u1", [float(i % 251) for i in range(W * H)]),
    ]:
        data, _ = encode_geotiff([vals], W, H, dtype=dtype, nodata=0, tile=(16, 16))
        p = str(tmp_path / f"{dtype}.tif")
        with open(p, "wb") as f:
            f.write(data)
        hdr = read_header(p)
        assert read_window(hdr, 0, 0, W, H) == vals, dtype


def test_rejects_bad_tile_and_dtype():
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_geotiff([VALS], W, H, tile=(10, 16))
    with pytest.raises(ValueError, match="unsupported dtype"):
        encode_geotiff([VALS], W, H, dtype="c16")


def test_classic_header_magic():
    data, _ = encode_geotiff([VALS], W, H, tile=(16, 16))
    assert data[:4] == b"II\x2a\x00"
    (ifd_off,) = struct.unpack("<I", data[4:8])
    (n_entries,) = struct.unpack("<H", data[ifd_off : ifd_off + 2])
    tags = [
        struct.unpack("<H", data[ifd_off + 2 + 12 * i : ifd_off + 4 + 12 * i])[0]
        for i in range(n_entries)
    ]
    assert tags == sorted(tags), "spec: IFD entries in ascending tag order"


def test_distributed_sink_manifest_and_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    from raster2points_spark.sources.minitiff import minitiff_catalog

    w = h = 32
    pixels = (
        spark.range(2 * w * h)
        .select(
            F.concat(F.lit("t"), (F.col("id") / (w * h)).cast("int")).alias("file_id"),
            F.lit(1).alias("band"),
            ((F.col("id") % (w * h)) / w).cast("int").alias("row"),
            (F.col("id") % w).cast("int").alias("col"),
            (F.col("id") % 1000).cast("double").alias("value"),
        )
        # t1's top-left quadrant absent -> one sparse tile
        .filter(
            ~(
                (F.col("file_id") == "t1")
                & (F.col("row") < 16)
                & (F.col("col") < 16)
            )
        )
    )
    out = str(tmp_path / "sink")
    rows = {
        r.file_id: r
        for r in write_geotiffs(
            pixels, out, width=w, height=h, tile=(16, 16), sparse=True
        ).collect()
    }
    assert set(rows) == {"t0", "t1"}
    for fid, r in rows.items():
        assert os.path.getsize(r.path) == r.n_bytes
        assert (r.width, r.height, r.n_bands, r.n_tiles) == (w, h, 1, 4)
    assert rows["t0"].n_sparse == 0 and rows["t1"].n_sparse == 1
    assert rows["t0"].n_valid == w * h and rows["t1"].n_valid == w * h - 256
    # the written files feed straight back into the catalog scan
    cat = {r.file: r for r in minitiff_catalog(spark, [rows[f].path for f in rows]).collect()}
    assert cat["t0.tif"].width == w and cat["t1.tif"].compression == 8


def test_nan_values_encode_as_nodata(spark, tmp_path):
    from pyspark.sql import functions as F

    pixels = spark.range(16 * 16).select(
        F.lit("z").alias("file_id"),
        F.lit(1).alias("band"),
        (F.col("id") / 16).cast("int").alias("row"),
        (F.col("id") % 16).cast("int").alias("col"),
        F.when(F.col("id") == 5, float("nan")).otherwise(F.col("id").cast("double")).alias("value"),
    )
    out = str(tmp_path / "nan")
    (m,) = write_geotiffs(pixels, out, width=16, height=16, tile=(16, 16)).collect()
    assert m.n_valid == 255
    hdr = read_header(m.path)
    got = read_window(hdr, 0, 0, 16, 16)
    assert got[5] == -9999.0 and got[6] == 6.0
    assert not any(math.isnan(v) for v in got)


def test_bigtiff_roundtrip(tmp_path):
    data, n_sparse = encode_geotiff(
        [VALS], W, H, tile=(16, 16), bigtiff=True, sparse=True
    )
    assert data[:4] == b"II\x2b\x00" and data[4:8] == b"\x08\x00\x00\x00"
    p = str(tmp_path / "big.tif")
    with open(p, "wb") as f:
        f.write(data)
    hdr = read_header(p)
    assert (hdr.width, hdr.height) == (W, H)
    assert read_window(hdr, 0, 0, W, H) == VALS
    # classic and BigTIFF must decode identically
    classic, _ = encode_geotiff([VALS], W, H, tile=(16, 16))
    p2 = str(tmp_path / "classic.tif")
    with open(p2, "wb") as f:
        f.write(classic)
    assert read_window(read_header(p2), 0, 0, W, H) == VALS


def test_bigtiff_single_tile_inline_offsets(tmp_path):
    # 16x16 image = ONE tile: offsets/counts fit the 8-byte inline slot
    vals = [float(i) for i in range(256)]
    data, _ = encode_geotiff([vals], 16, 16, tile=(16, 16), bigtiff=True)
    p = str(tmp_path / "one.tif")
    with open(p, "wb") as f:
        f.write(data)
    assert read_window(read_header(p), 0, 0, 16, 16) == vals


def test_overview_pyramid_roundtrip(tmp_path):
    # 8x4 full res, values 0..31 -> level-1 2x2 box means must equal
    # the pyramid.tif fixture convention (GDAL "average")
    pw, ph = 8, 4
    vals = [float(i) for i in range(pw * ph)]
    data, _ = encode_geotiff(
        [vals], pw, ph, tile=(16, 16), overviews=2, pixel_scale=(0.5, 0.5)
    )
    p = str(tmp_path / "pyr.tif")
    with open(p, "wb") as f:
        f.write(data)
    full = read_header(p)
    assert full.n_overviews == 2
    assert read_window(full, 0, 0, pw, ph) == vals
    ov1 = read_header(p, overview=1)
    assert (ov1.width, ov1.height) == (4, 2)
    # overview inherits + scales the full-res transform (no geo tags)
    assert ov1.transform[0] == full.transform[0] * 2
    assert ov1.transform[4] == full.transform[4] * 2
    want1 = [
        sum(vals[(2 * r + dr) * pw + 2 * c + dc] for dr in (0, 1) for dc in (0, 1)) / 4.0
        for r in range(2)
        for c in range(4)
    ]
    assert read_window(ov1, 0, 0, 4, 2) == want1
    ov2 = read_header(p, overview=2)
    assert (ov2.width, ov2.height) == (2, 1)


def test_overview_nodata_excluding_mean_and_odd_dims(tmp_path):
    # 3x3 (odd: ceil-halved 2x2 overview), one all-nodata 2x2 quad
    vals = [
        -9999.0, -9999.0, 3.0,
        -9999.0, -9999.0, 6.0,
        7.0, 8.0, 9.0,
    ]
    data, _ = encode_geotiff([vals], 3, 3, tile=(16, 16), overviews=1)
    p = str(tmp_path / "odd.tif")
    with open(p, "wb") as f:
        f.write(data)
    ov = read_header(p, overview=1)
    assert (ov.width, ov.height) == (2, 2)
    # quads: TL all nodata -> nodata; TR mean(3,6); BL mean(7,8); BR 9
    assert read_window(ov, 0, 0, 2, 2) == [-9999.0, 4.5, 7.5, 9.0]


def test_cli_cogify_roundtrips_points(spark, tmp_path):
    """--format geotiff re-writes each input band as its own tiled
    COG; running the CSV pipeline over the REWRITTEN files must yield
    exactly the original fixtures' golden point table (FIXTURES.md:
    7 points, band-1 nodata masks one pixel, band-2 nodata -> empty)."""
    import glob

    from raster2points_spark.cli import main

    cog_dir = str(tmp_path / "cogs")
    rc = main(
        ["fixtures/tif/elev.tif", "fixtures/tif/slope.tif", cog_dir,
         "--format", "geotiff", "--tile-size", "16", "--overviews", "1"]
    )
    assert rc == 0
    from raster2points_spark.sources.minitiff import read_header

    hdr = read_header(os.path.join(cog_dir, "b1.tif"))
    assert hdr.n_overviews == 1 and hdr.tiled
    out = str(tmp_path / "csv")
    rc = main(
        [os.path.join(cog_dir, "b1.tif"), os.path.join(cog_dir, "b2.tif"), out,
         "--col-names", "elev", "slope", "--separator", ";"]
    )
    assert rc == 0
    lines = sorted(
        l for f in glob.glob(f"{out}/part-*.csv") for l in open(f).read().splitlines() if l
    )
    data = [l for l in lines if not l.startswith("lon")]
    assert len(data) == 7
    assert "10.25;44.75;1.0;10.0" in data
    assert "10.75;44.75;2.0;" in data  # band-2 nodata survives as NULL


# ---- property sweep: encode->decode identity over the writer's whole
# option space (hypothesis; pure encoder + reader, no Spark) ----

from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    width=st.integers(min_value=1, max_value=40),
    height=st.integers(min_value=1, max_value=40),
    tile_edge=st.sampled_from([16, 32]),
    dtype=st.sampled_from(["f8", "f4", "i2", "u1"]),
    sparse=st.booleans(),
    bigtiff=st.booleans(),
    n_overviews=st.integers(min_value=0, max_value=2),
    compression=st.sampled_from(["deflate", "lzw"]),
    predictor_on=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_encode_decode_identity_property(
    tmp_path_factory, width, height, tile_edge, dtype, sparse, bigtiff,
    n_overviews, compression, predictor_on, seed
):
    import numpy as np

    rng = np.random.default_rng(seed)
    # codec x predictor x dtype sweep (VERDICT r13 #6): predictor 3
    # for floats, 2 for ints, 1 when off
    predictor = (3 if dtype in ("f8", "f4") else 2) if predictor_on else 1
    nodata = 0 if dtype == "u1" else -99
    if dtype in ("f8", "f4"):
        vals = rng.integers(-50, 200, size=width * height).astype("f8")
    elif dtype == "i2":
        vals = rng.integers(-50, 200, size=width * height).astype("f8")
    else:
        vals = rng.integers(1, 200, size=width * height).astype("f8")
    # scatter nodata (sometimes whole raster — the all-sparse edge)
    mask = rng.random(width * height) < rng.choice([0.1, 0.9, 1.0])
    vals[mask] = nodata
    if dtype == "f4":
        vals = vals.astype("f4").astype("f8")  # representable in f4
    data, n_sparse = encode_geotiff(
        [list(vals)],
        width,
        height,
        dtype=dtype,
        nodata=nodata,
        tile=(tile_edge, tile_edge),
        sparse=sparse,
        bigtiff=bigtiff,
        overviews=n_overviews,
        compression=compression,
        predictor=predictor,
    )
    p = str(tmp_path_factory.mktemp("prop") / "x.tif")
    with open(p, "wb") as f:
        f.write(data)
    hdr = read_header(p)
    assert (hdr.width, hdr.height) == (width, height)
    assert hdr.n_overviews == n_overviews
    assert hdr.compression == (5 if compression == "lzw" else 8)
    assert hdr.predictor == predictor
    assert read_window(hdr, 0, 0, width, height) == list(vals)
    if not sparse:
        assert n_sparse == 0 and 0 not in hdr.offsets
    for k in range(1, n_overviews + 1):
        ov = read_header(p, overview=k)
        assert ov.width == -(-width // (2**k)) and ov.height == -(-height // (2**k))
        got = read_window(ov, 0, 0, ov.width, ov.height)
        assert len(got) == ov.width * ov.height
        if dtype in ("f8", "i2"):  # integer-valued means, exactly checkable
            full = np.full((ov.height * 2**k, ov.width * 2**k), np.nan)
            full[:height, :width] = np.where(
                vals.reshape(height, width) == nodata, np.nan, vals.reshape(height, width)
            )
            q = full.reshape(ov.height, 2**k, ov.width, 2**k)
            cnt = np.count_nonzero(~np.isnan(q), axis=(1, 3))
            tot = np.nansum(q, axis=(1, 3))
            want = np.where(cnt > 0, tot / np.maximum(cnt, 1), float(nodata))
            got_arr = np.array(got).reshape(ov.height, ov.width)
            if dtype == "i2":
                want = want.astype("<i2").astype("f8")
            assert np.array_equal(got_arr, want)


def test_lzw_incompressible_roundtrip_fuzz():
    """Random (incompressible) byte blocks round-trip through the raw
    _lzw_encode/_lzw_decode pair.  High-entropy input drives the code
    table through width boundaries (511/1023/2047) right at
    end-of-stream, which the small compressible rasters in the property
    sweep above never reach: without the libtiff LZWPostEncode width
    re-check after the final data code, EOI is emitted one bit too
    narrow and the tail decodes as garbage (~0.3% of blocks)."""
    import random

    from raster2points_spark.sinks.geotiff import _lzw_encode
    from raster2points_spark.sources.minitiff import _lzw_decode

    rng = random.Random(0xC0DEC)
    for _ in range(1500):
        data = rng.randbytes(rng.randint(1, 1400))
        assert _lzw_decode(_lzw_encode(data)) == data
    for data in (b"", b"a", b"ab" * 4000, bytes(range(256)) * 20):
        assert _lzw_decode(_lzw_encode(data)) == data


def test_out_of_range_pixels_raise_clearly(spark, tmp_path):
    from pyspark.sql import functions as F

    pixels = spark.range(4).select(
        F.lit("bad").alias("file_id"),
        F.lit(1).alias("band"),
        (F.col("id") + 15).cast("int").alias("row"),  # rows 15..18 > 15
        F.lit(0).alias("col"),
        F.col("id").cast("double").alias("value"),
    )
    with pytest.raises(Exception, match="out of range for 16x16"):
        write_geotiffs(
            pixels, str(tmp_path / "bad"), width=16, height=16, tile=(16, 16)
        ).collect()


def test_predictor_roundtrip(tmp_path):
    # predictor 3 (float byte shuffle) must decode identically via the
    # reader's predictor path (compression wins only show on realistic
    # block sizes, so size is not asserted at fixture scale)
    smooth = [float(r + c) * 0.25 for r in range(H) for c in range(W)]
    shuf, _ = encode_geotiff([smooth], W, H, tile=(16, 16), predictor=3)
    p = str(tmp_path / "p3.tif")
    with open(p, "wb") as f:
        f.write(shuf)
    hdr = read_header(p)
    assert hdr.predictor == 3
    assert read_window(hdr, 0, 0, W, H) == smooth
    # predictor 2 (horizontal diff) on a smooth integer band
    ints = [float((r + c) % 120) for r in range(H) for c in range(W)]
    d2, _ = encode_geotiff([ints], W, H, dtype="i2", nodata=-1, tile=(16, 16), predictor=2)
    p2 = str(tmp_path / "p2.tif")
    with open(p2, "wb") as f:
        f.write(d2)
    hdr2 = read_header(p2)
    assert hdr2.predictor == 2
    assert read_window(hdr2, 0, 0, W, H) == ints
    # validation: wrong dtype/predictor pairings rejected eagerly
    with pytest.raises(ValueError, match="integer dtypes"):
        encode_geotiff([smooth], W, H, predictor=2)
    with pytest.raises(ValueError, match="float dtypes"):
        encode_geotiff([ints], W, H, dtype="i2", nodata=-1, predictor=3)


def test_predictor_with_overviews_and_sparse(tmp_path):
    vals = [
        -9999.0 if (r >= 16 and c >= 16) else float(r * W + c) * 0.5
        for r in range(H)
        for c in range(W)
    ]
    data, n_sparse = encode_geotiff(
        [vals], W, H, tile=(16, 16), predictor=3, sparse=True, overviews=1
    )
    assert n_sparse == 1
    p = str(tmp_path / "p3ov.tif")
    with open(p, "wb") as f:
        f.write(data)
    hdr = read_header(p)
    assert read_window(hdr, 0, 0, W, H) == vals
    ov = read_header(p, overview=1)
    assert ov.predictor == 3 and (ov.width, ov.height) == (10, 9)
    assert len(read_window(ov, 0, 0, 10, 9)) == 90


def test_cli_cogify_rejects_mixed_resolution(spark, capsys):
    from raster2points_spark.cli import main

    with pytest.raises(SystemExit):
        main(
            ["fixtures/tif_mixed/fine.tif", "fixtures/tif_mixed/coarse.tif",
             "/tmp/never_written", "--format", "geotiff"]
        )
    assert "mixed pixel scales" in capsys.readouterr().err


def test_cli_cogify_rejects_bad_col_names(spark, tmp_path, capsys):
    """--col-names names each band's output file: a repeated name or a
    count other than the bands' is a usage error, and nothing is
    written (a repeated name used to merge both bands into one file)."""
    from raster2points_spark.cli import main

    ins = ["fixtures/tif/elev.tif", "fixtures/tif/slope.tif"]
    for names, msg in ((["x", "x"], "col_names repeat ['x']"),
                       (["x"], "col_names must match bands")):
        out = tmp_path / "_".join(names)
        with pytest.raises(SystemExit) as e:
            main([*ins, str(out), "--format", "geotiff", "--tile-size", "16",
                  "--col-names", *names])
        assert e.value.code == 2
        assert msg in capsys.readouterr().err
        assert not list(tmp_path.rglob("*.tif"))


def test_per_file_dims_from_origins(spark, tmp_path):
    from pyspark.sql import functions as F

    # two files with DIFFERENT grids: a (16x16) and b (32x16)
    px_a = spark.range(16 * 16).select(
        F.lit("a").alias("file_id"), F.lit(1).alias("band"),
        (F.col("id") / 16).cast("int").alias("row"),
        (F.col("id") % 16).cast("int").alias("col"),
        F.col("id").cast("double").alias("value"),
    )
    px_b = spark.range(16 * 32).select(
        F.lit("b").alias("file_id"), F.lit(1).alias("band"),
        (F.col("id") / 32).cast("int").alias("row"),
        (F.col("id") % 32).cast("int").alias("col"),
        (F.col("id") + 10000).cast("double").alias("value"),
    )
    origins = spark.createDataFrame(
        [("a", 10.0, 45.0, 16, 16), ("b", 20.0, 45.0, 32, 16)],
        "file_id string, lon0 double, lat0 double, width int, height int",
    )
    rows = {
        r.file_id: r
        for r in write_geotiffs(
            px_a.union(px_b), str(tmp_path / "pf"),
            width=8, height=8,  # defaults must be OVERRIDDEN per file
            origins=origins, tile=(16, 16),
        ).collect()
    }
    assert (rows["a"].width, rows["a"].height) == (16, 16)
    assert (rows["b"].width, rows["b"].height) == (32, 16)
    ha, hb = read_header(rows["a"].path), read_header(rows["b"].path)
    assert (ha.width, hb.width) == (16, 32)
    assert read_window(hb, 0, 0, 32, 16) == [float(i + 10000) for i in range(512)]
    assert hb.transform[2] == 20.0


def test_cli_cogify_keeps_per_file_dims(spark, tmp_path):
    """ADVICE r13: two same-resolution inputs with DIFFERENT dims
    (elev 4x2, sparse_mask 4x4) must each roundtrip with their own
    extent — not nodata-padded to the global max."""
    from raster2points_spark.cli import main

    cog_dir = str(tmp_path / "cogs")
    rc = main(
        ["fixtures/tif/elev.tif", "fixtures/tif/sparse_mask.tif", cog_dir,
         "--format", "geotiff", "--tile-size", "16"]
    )
    assert rc == 0
    h1 = read_header(os.path.join(cog_dir, "b1.tif"))
    h2 = read_header(os.path.join(cog_dir, "b2.tif"))
    assert (h1.width, h1.height) == (4, 2)   # elev keeps 4x2
    assert (h2.width, h2.height) == (4, 4)   # sparse_mask keeps 4x4


def test_cli_cogify_validates_predictor_dtype(capsys):
    """ADVICE r13: --predictor 2 with the default float dtype must be
    a one-line CLI usage error, not an executor ValueError."""
    from raster2points_spark.cli import main

    with pytest.raises(SystemExit):
        main(["fixtures/tif/elev.tif", "/tmp/never_written",
              "--format", "geotiff", "--predictor", "2"])
    assert "integer --dtype" in capsys.readouterr().err
    with pytest.raises(SystemExit):
        main(["fixtures/tif/elev.tif", "/tmp/never_written",
              "--format", "geotiff", "--predictor", "3", "--dtype", "i2"])
    assert "float --dtype" in capsys.readouterr().err


def test_cli_cogify_rejects_intra_band_transform_drift(spark, tmp_path, capsys):
    """ADVICE r13: one band whose tiles carry DIFFERENT transforms
    must refuse (F.first would otherwise pick an arbitrary origin)."""
    from raster2points_spark.cli import main

    rows = [
        ("b1", 0, 0, 0, 2, 2, [0.5, 0.0, 10.0, 0.0, -0.5, 45.0], -9999.0,
         "float64", [1.0, 2.0, 3.0, 4.0]),
        ("b1", 1, 2, 0, 2, 2, [0.5, 0.0, 99.0, 0.0, -0.5, 45.0], -9999.0,
         "float64", [5.0, 6.0, 7.0, 8.0]),
    ]
    tiles = spark.createDataFrame(
        rows,
        "band_id string, tile_id long, col_off int, row_off int, width int, "
        "height int, transform array<double>, nodata double, dtype string, "
        "data array<double>",
    )
    src = str(tmp_path / "tiles")
    tiles.write.parquet(src)
    with pytest.raises(SystemExit):
        main([src, "/tmp/never_written", "--format", "geotiff",
              "--bands", "b1"])
    assert "more than one transform" in capsys.readouterr().err


def test_geokey_directory_gdal_byte_layout():
    """Pin the GDAL-convention byte layout of GeoKeyDirectoryTag
    (VERDICT r13 #2): SHORT array, header (1,1,0,3), then ascending
    KeyIDs — GTModelType, GTRasterType=1 (PixelIsArea), and the
    geographic (2048) or projected (3072) EPSG code."""
    data, _ = encode_geotiff([[1.0] * 256], 16, 16, tile=(16, 16))
    # classic little-endian: walk the IFD for tag 34735
    (ifd_off,) = struct.unpack_from("<I", data, 4)
    (n,) = struct.unpack_from("<H", data, ifd_off)
    tags = {}
    for i in range(n):
        tag, typ, cnt, off = struct.unpack_from("<HHII", data, ifd_off + 2 + 12 * i)
        tags[tag] = (typ, cnt, off)
    typ, cnt, off = tags[34735]
    assert (typ, cnt) == (3, 16)  # SHORT x (4 header + 3 keys x 4)
    vals = struct.unpack_from("<16H", data, off)
    assert vals == (1, 1, 0, 3,
                    1024, 0, 1, 2,    # GTModelType: geographic
                    1025, 0, 1, 1,    # GTRasterType: RasterPixelIsArea
                    2048, 0, 1, 4326)
    # projected code flips to GTModelType=1 + ProjectedCSTypeGeoKey
    data2, _ = encode_geotiff([[1.0] * 256], 16, 16, tile=(16, 16), crs_epsg=32633)
    (ifd_off,) = struct.unpack_from("<I", data2, 4)
    (n,) = struct.unpack_from("<H", data2, ifd_off)
    for i in range(n):
        tag, typ, cnt, off = struct.unpack_from("<HHII", data2, ifd_off + 2 + 12 * i)
        if tag == 34735:
            assert struct.unpack_from("<16H", data2, off) == (
                1, 1, 0, 3, 1024, 0, 1, 1, 1025, 0, 1, 1, 3072, 0, 1, 32633)
            break
    else:
        raise AssertionError("tag 34735 missing")
    # crs_epsg=None omits the tag entirely (the pre-geokey layout)
    data3, _ = encode_geotiff([[1.0] * 256], 16, 16, tile=(16, 16), crs_epsg=None)
    assert read_header(_tmp_write(data3)).crs is None


def test_geokey_directory_projected_carveout_in_4xxx():
    """ADVICE r14 (low): EPSG 4087/4088 (World Equidistant Cylindrical)
    are PROJECTED CRSs inside the mostly-geographic 4000-4999 block —
    they must be written under ProjectedCSTypeGeoKey (3072) with
    GTModelType=1, not as geographic; and an explicit ``geographic``
    flag overrides the heuristic both ways."""
    from raster2points_spark.sinks.geotiff import _geokey_directory

    for code in (4087, 4088, 4026, 4037, 4038, 4093, 4096):
        vals = _geokey_directory(code)
        assert vals[4:8] == [1024, 0, 1, 1], code   # GTModelType: projected
        assert vals[12:16] == [3072, 0, 1, code], code
    # plain geographic codes keep the geographic layout
    for code in (4326, 4269, 4258):
        vals = _geokey_directory(code)
        assert vals[4:8] == [1024, 0, 1, 2], code
        assert vals[12:16] == [2048, 0, 1, code], code
    # explicit flag wins over the heuristic (the documented escape
    # hatch for geographic codes outside the block, e.g. 3819)
    vals = _geokey_directory(3819, geographic=True)
    assert vals[4:8] == [1024, 0, 1, 2] and vals[12:16] == [2048, 0, 1, 3819]
    vals = _geokey_directory(4326, geographic=False)
    assert vals[4:8] == [1024, 0, 1, 1] and vals[12:16] == [3072, 0, 1, 4326]


def _tmp_write(data: bytes) -> str:
    import tempfile

    f = tempfile.NamedTemporaryFile(suffix=".tif", delete=False)
    f.write(data)
    f.close()
    return f.name


def test_sink_crs_roundtrips_through_catalog(spark, tmp_path):
    """write_geotiffs -> minitiff_catalog closes the CRS loop: the
    catalog's crs column reads back exactly what the sink wrote."""
    from pyspark.sql import functions as F

    from raster2points_spark.sources.minitiff import minitiff_catalog

    px = spark.range(256).select(
        F.lit("c0").alias("file_id"), F.lit(1).alias("band"),
        (F.col("id") / 16).cast("int").alias("row"),
        (F.col("id") % 16).cast("int").alias("col"),
        F.col("id").cast("double").alias("value"),
    )
    out = str(tmp_path / "crs")
    write_geotiffs(
        px, out, width=16, height=16, tile=(16, 16), crs_epsg=32633
    ).collect()
    row = minitiff_catalog(spark, [os.path.join(out, "c0.tif")]).collect()[0]
    assert row.crs == "EPSG:32633"


def test_cli_cogify_crs_flag(spark, tmp_path):
    """--crs writes the requested EPSG into GeoKeyDirectoryTag; the
    catalog reads it back (gdal_translate -a_srs parity)."""
    from raster2points_spark.cli import main
    from raster2points_spark.sources.minitiff import minitiff_catalog

    cog_dir = str(tmp_path / "cogs_crs")
    rc = main(
        ["fixtures/tif/elev.tif", cog_dir,
         "--format", "geotiff", "--tile-size", "16", "--crs", "32633"]
    )
    assert rc == 0
    path = os.path.join(cog_dir, "b1.tif")
    (row,) = minitiff_catalog(spark, [path]).select("crs").collect()
    assert row.crs == "EPSG:32633"
    # default stays geographic WGS84
    cog_dir2 = str(tmp_path / "cogs_default")
    assert main(["fixtures/tif/elev.tif", cog_dir2,
                 "--format", "geotiff", "--tile-size", "16"]) == 0
    (row2,) = (
        minitiff_catalog(spark, [os.path.join(cog_dir2, "b1.tif")])
        .select("crs")
        .collect()
    )
    assert row2.crs == "EPSG:4326"


def test_cli_overview_level_extraction(spark, tmp_path):
    """--overview-level K extracts points from the K-th pyramid level:
    1/4 of the rows at 2x the pixel scale — the serving shape for
    downsampled exports (gdal_translate on an overview)."""
    import csv
    import glob

    from raster2points_spark.cli import main

    cog_dir = str(tmp_path / "cogs_ov")
    assert main(
        ["fixtures/tif/elev.tif", cog_dir,
         "--format", "geotiff", "--tile-size", "16", "--overviews", "1"]
    ) == 0
    path = os.path.join(cog_dir, "b1.tif")
    full = str(tmp_path / "full")
    lvl1 = str(tmp_path / "lvl1")
    assert main([path, full]) == 0
    assert main([path, lvl1, "--overview-level", "1"]) == 0

    def rows(d):
        out = []
        for f in glob.glob(f"{d}/part-*.csv"):
            with open(f) as fh:
                r = csv.DictReader(fh)
                out.extend({k: float(v) for k, v in row.items()} for row in r)
        return out

    r_full, r_lvl = rows(full), rows(lvl1)
    assert len(r_full) > len(r_lvl) > 0
    # level-1 pixels are 2x coarser: the lon spacing between distinct
    # centers doubles
    lons_f = sorted({r["lon"] for r in r_full})
    lons_l = sorted({r["lon"] for r in r_lvl})
    if len(lons_f) > 1 and len(lons_l) > 1:
        step_f = min(b - a for a, b in zip(lons_f, lons_f[1:]))
        step_l = min(b - a for a, b in zip(lons_l, lons_l[1:]))
        assert abs(step_l - 2 * step_f) < 1e-9
    # parquet tile-table input refuses the flag with a usage error
    import pytest

    with pytest.raises(SystemExit):
        main(["fixtures/grid/grid4.parquet", str(tmp_path / "nope"),
              "--bands", "b1", "--overview-level", "1"])
