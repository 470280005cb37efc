"""Baseline GeoTIFF codec (kernels/tiff.py) + Spark scan/sink
(sources/geotiff.py)."""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest

from gdal_spark.kernels.tiff import read_geotiff, write_geotiff


@pytest.mark.parametrize("dt", ["u1", "u2", "u4", "i2", "i4", "f4", "f8"])
def test_roundtrip_dtypes(dt):
    a = (np.arange(37 * 53).reshape(37, 53) % 251).astype(dt)
    blob = write_geotiff(a, geotransform=(100.0, 0.5, 0, 200.0, 0, -0.5),
                         epsg=32633, nodata=7.0, rows_per_strip=5)
    arr, gt, epsg, nod = read_geotiff(blob)
    assert arr.dtype == np.dtype(dt)
    np.testing.assert_array_equal(arr, a)
    assert gt == (100.0, 0.5, 0.0, 200.0, 0.0, -0.5)
    assert epsg == 32633 and nod == 7.0


def test_geographic_key_and_defaults():
    blob = write_geotiff(np.zeros((4, 4), np.uint8), epsg=4326)
    _, gt, epsg, nod = read_geotiff(blob)
    assert epsg == 4326 and gt is None and nod is None


def test_nodata_precision():
    blob = write_geotiff(np.zeros((2, 2), np.float64),
                         nodata=-3.402823e38)
    assert read_geotiff(blob)[3] == pytest.approx(-3.402823e38)


def test_rejects_non_tiff_and_compressed():
    with pytest.raises(ValueError, match="byte-order"):
        read_geotiff(b"PK\x03\x04junk")
    # patch the Compression entry of a valid file to 7 (JPEG)
    blob = bytearray(write_geotiff(np.zeros((2, 2), np.uint8)))
    (n,) = struct.unpack_from("<H", blob, 8)
    for k in range(n):
        tag = struct.unpack_from("<H", blob, 10 + 12 * k)[0]
        if tag == 259:
            struct.pack_into("<H", blob, 10 + 12 * k + 8, 7)
    with pytest.raises(ValueError, match="compression"):
        read_geotiff(bytes(blob))


def test_hostile_input_raises_value_error_with_bounded_allocation(hostile_contract):
    a = (np.arange(40 * 50).reshape(40, 50) % 251).astype(np.uint8)
    blob = write_geotiff(a, geotransform=(100.0, 0.5, 0, 200.0, 0, -0.5),
                         epsg=32633, nodata=7.0)
    hostile_contract(lambda p: read_geotiff(p, return_overviews=True), blob,
                     seed=9, head=256, slack=64 * 1024)


def test_big_endian_read():
    """Hand-built MM-order file: reader must byte-swap."""
    h, w = 2, 3
    px = np.array([[1, 2, 3], [4, 5, 600]], dtype=">u2")
    entries = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 16),
        (259, 3, 1, 1), (262, 3, 1, 1),
        (273, 4, 1, None),          # strip offset, patched below
        (277, 3, 1, 1), (278, 4, 1, h), (279, 4, 1, h * w * 2),
        (339, 3, 1, 1),
    ]
    ifd_off = 8
    strip0 = ifd_off + 2 + 12 * len(entries) + 4
    out = bytearray(struct.pack(">2sHI", b"MM", 42, ifd_off))
    out += struct.pack(">H", len(entries))
    for tag, typ, cnt, val in entries:
        if tag == 273:
            val = strip0
        fmt = {3: "H", 4: "I"}[typ]
        blob = struct.pack(">" + fmt, val)
        out += struct.pack(">HHI", tag, typ, cnt) + blob.ljust(4, b"\x00")
    out += struct.pack(">I", 0)
    out += px.tobytes()
    arr, gt, epsg, nod = read_geotiff(bytes(out))
    np.testing.assert_array_equal(arr, [[1, 2, 3], [4, 5, 600]])
    assert arr.dtype == np.dtype("u2").newbyteorder("=")


def _formula_img(h=40, w=60, dt="u1"):
    r, c = np.mgrid[0:h, 0:w]
    return ((3 * r + 7 * c) % 251).astype(dt)


def test_spark_scan_tiles(spark, tmp_path):
    from gdal_spark.sources.geotiff import read_geotiff_tiles

    for i in range(3):
        img = _formula_img(40 + i, 60)
        with open(tmp_path / f"g{i}.tif", "wb") as fh:
            fh.write(write_geotiff(
                img, geotransform=(10.0 * i, 0.5, 0, 100.0, 0, -0.5),
                epsg=32601, nodata=255.0, rows_per_strip=7))
    df = read_geotiff_tiles(spark, str(tmp_path / "*.tif"), tile_size=16)
    rows = df.collect()
    # file 0: 40x60 -> 3x4 ragged tile grid
    f0 = [r for r in rows if r["path"].endswith("g0.tif")]
    assert len(f0) == 12
    got = np.zeros((40, 60), np.uint8)
    for r in f0:
        t = np.frombuffer(r["px"], dtype=r["dtype"]).reshape(r["h"], r["w"])
        got[r["ty"] * 16:r["ty"] * 16 + r["h"],
            r["tx"] * 16:r["tx"] * 16 + r["w"]] = t
    np.testing.assert_array_equal(got, _formula_img(40, 60))
    edge = next(r for r in f0 if r["tx"] == 3 and r["ty"] == 2)
    assert (edge["w"], edge["h"]) == (12, 8)       # ragged edge tile
    assert edge["x0"] == 0.0 + 3 * 16 * 0.5
    assert edge["y0"] == 100.0 - 2 * 16 * 0.5
    assert edge["epsg"] == 32601 and edge["nodata"] == 255.0


def test_spark_sink_roundtrip(spark, tmp_path):
    from gdal_spark.sources.geotiff import (read_geotiff_tiles,
                                            write_geotiff_part_files)

    img = _formula_img(33, 45, "f4")
    src = tmp_path / "src.tif"
    with open(src, "wb") as fh:
        fh.write(write_geotiff(img, geotransform=(5.0, 2.0, 0, 9.0, 0, -2.0),
                               epsg=3857))
    tiles = read_geotiff_tiles(spark, str(src), tile_size=16)
    out_dir = str(tmp_path / "out")
    res = write_geotiff_part_files(tiles, out_dir, tile_size=16).collect()
    assert len(res) == 1 and res[0]["n_tiles"] == 9
    with open(res[0]["out_path"], "rb") as fh:
        arr, gt, epsg, nod = read_geotiff(fh.read())
    np.testing.assert_array_equal(arr, img)
    assert gt == (5.0, 2.0, 0.0, 9.0, 0.0, -2.0) and epsg == 3857
    assert os.path.dirname(res[0]["out_path"]) == out_dir


def test_overview_ifd_chain():
    """Internal overviews: chained IFDs tagged reduced-resolution
    (gdaladdo layout); the reader walks the chain, and the default
    4-tuple read keeps returning only the full-resolution band."""
    img = _formula_img(64, 64, "u1")
    # reference integer average: (sum + 2) // 4 per 2x2
    c = img.astype(np.int64)
    ov1 = ((c[::2, ::2] + c[::2, 1::2] + c[1::2, ::2] + c[1::2, 1::2] + 2)
           // 4).astype(np.uint8)
    c2 = ov1.astype(np.int64)
    ov2 = ((c2[::2, ::2] + c2[::2, 1::2] + c2[1::2, ::2] + c2[1::2, 1::2]
            + 2) // 4).astype(np.uint8)
    blob = write_geotiff(img, geotransform=(0.0, 1.0, 0, 64.0, 0, -1.0),
                         epsg=4326, overviews=[ov1, ov2], rows_per_strip=9)
    arr, gt, epsg, nod, ovs = read_geotiff(blob, return_overviews=True)
    np.testing.assert_array_equal(arr, img)
    assert epsg == 4326 and len(ovs) == 2
    np.testing.assert_array_equal(ovs[0], ov1)
    np.testing.assert_array_equal(ovs[1], ov2)
    # back-compat default read
    arr2 = read_geotiff(blob)[0]
    np.testing.assert_array_equal(arr2, img)
    with pytest.raises(ValueError, match="dtype"):
        write_geotiff(img, overviews=[ov1.astype(np.uint16)])


@pytest.mark.parametrize("pred", [1, 2])
@pytest.mark.parametrize("dt", ["u1", "u2", "i4"])
def test_deflate_roundtrip(dt, pred):
    """Compression=8 (Adobe DEFLATE) + optional predictor=2
    (horizontal differencing) roundtrips bit-exact and shrinks a
    smooth gradient."""
    r, c = np.mgrid[0:50, 0:70]
    img = (r * 2 + c).astype(dt)         # smooth -> very compressible
    blob = write_geotiff(img, compression="deflate", predictor=pred,
                         rows_per_strip=8,
                         geotransform=(0.0, 1.0, 0, 50.0, 0, -1.0))
    raw = write_geotiff(img, rows_per_strip=8)
    assert len(blob) < len(raw) // 2
    arr, gt, _, _ = read_geotiff(blob)
    np.testing.assert_array_equal(arr, img)
    assert gt == (0.0, 1.0, 0.0, 50.0, 0.0, -1.0)


def test_deflate_overviews_and_float_guard():
    img = _formula_img(32, 32, "u1")
    ov = img[::2, ::2].copy()
    blob = write_geotiff(img, compression="deflate", predictor=2,
                         overviews=[ov])
    arr, _, _, _, ovs = read_geotiff(blob, return_overviews=True)
    np.testing.assert_array_equal(arr, img)
    np.testing.assert_array_equal(ovs[0], ov)
    with pytest.raises(ValueError, match="integer-only"):
        write_geotiff(np.zeros((4, 4), np.float32), predictor=2)
    with pytest.raises(ValueError, match="compression"):
        write_geotiff(img, compression="lzw")


def _lzw_encode_ref(data: bytes) -> bytes:
    """Independent TIFF-LZW encoder (MSB-first, 9-bit start, early
    change) written from TIFF 6.0 section 13 for the decode test."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    bitbuf, nbits = 0, 0

    def put(code, width):
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table = {bytes([i]): i for i in range(256)}
    nxt = 258
    width = 9
    put(CLEAR, width)
    w = b""
    for byte in data:
        c = bytes([byte])
        if w + c in table:
            w += c
            continue
        put(table[w], width)
        table[w + c] = nxt
        nxt += 1
        # early change: encoder bumps width when next code reaches limit
        if nxt == (1 << width) - 1 and width < 12:
            width += 1
        if nxt >= 4094:
            put(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            nxt = 258
            width = 9
        w = c
    if w:
        put(table[w], width)
    put(EOI, width)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_lzw_decode_roundtrip():
    from gdal_spark.kernels.tiff import lzw_decode

    rng = np.random.default_rng(3)
    for payload in (b"TOBEORNOTTOBEORTOBEORNOT" * 40,
                    bytes(rng.integers(0, 8, 5000, dtype=np.uint8)),
                    bytes(range(256)) * 20,
                    b"", b"\x00" * 10000):
        assert lzw_decode(_lzw_encode_ref(payload)) == payload


def test_lzw_tiff_read():
    """A compression=5 file (strip bytes re-encoded with the
    independent reference encoder) decodes bit-exact."""
    img = _formula_img(30, 40, "u1")
    blob = bytearray(write_geotiff(img, rows_per_strip=30))
    (n,) = struct.unpack_from("<H", blob, 8)
    soff = scnt_pos = None
    for k in range(n):
        tag = struct.unpack_from("<H", blob, 10 + 12 * k)[0]
        pos = 10 + 12 * k + 8
        if tag == 259:
            struct.pack_into("<H", blob, pos, 5)
        elif tag == 273:
            (soff,) = struct.unpack_from("<I", blob, pos)
            soff_pos = pos
        elif tag == 279:
            scnt_pos = pos
    enc = _lzw_encode_ref(img.tobytes())
    struct.pack_into("<I", blob, soff_pos, len(blob))
    struct.pack_into("<I", blob, scnt_pos, len(enc))
    blob += enc
    arr, _, _, _ = read_geotiff(bytes(blob))
    np.testing.assert_array_equal(arr, img)


# -------------------------------------------------------- multi-band
@pytest.mark.parametrize("compression,pred", [(None, 1),
                                              ("deflate", 1),
                                              ("deflate", 2)])
def test_multiband_chunky_roundtrip(compression, pred):
    """(h, w, bands) writes SamplesPerPixel=bands chunky
    (PlanarConfiguration=1); predictor differencing stays per
    channel."""
    r, c = np.mgrid[0:21, 0:17]
    rgb = np.stack([(r + c) % 251, (2 * r) % 251, (3 * c) % 251],
                   axis=2).astype(np.uint8)
    blob = write_geotiff(rgb, compression=compression, predictor=pred,
                         rows_per_strip=4,
                         geotransform=(1.0, 0.5, 0, 2.0, 0, -0.5),
                         epsg=3857)
    arr, gt, epsg, _ = read_geotiff(blob)
    assert arr.shape == (21, 17, 3)
    np.testing.assert_array_equal(arr, rgb)
    assert epsg == 3857 and gt[1] == 0.5


def test_multiband_u16_5band():
    a = (np.arange(6 * 7 * 5).reshape(6, 7, 5) % 60000).astype(np.uint16)
    blob = write_geotiff(a)
    arr = read_geotiff(blob)[0]
    np.testing.assert_array_equal(arr, a)


def test_planar_configuration_2_read():
    """Hand-built planar (band-major strips) file decodes to the same
    (h, w, b) as chunky."""
    h, w, b = 4, 5, 2
    bands = np.arange(h * w * b, dtype=np.uint8).reshape(b, h, w)
    # SHORTx2 values (bps, sfmt) fit in 4 bytes -> inline; only the
    # LONGx2 strip offset/count arrays go external
    entries = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 2, (8, 8)),
        (259, 3, 1, 1), (262, 3, 1, 1), (273, 4, 2, None),
        (277, 3, 1, b), (278, 4, 1, h), (279, 4, 2, None),
        (284, 3, 1, 2), (339, 3, 2, (1, 1)),
    ]
    ifd_off = 8
    ifd_size = 2 + 12 * len(entries) + 4
    ext0 = ifd_off + ifd_size
    soff_off, scnt_off = ext0, ext0 + 8
    strip0 = ext0 + 16
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off))
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        if tag in (273, 279):
            off = soff_off if tag == 273 else scnt_off
            out += struct.pack("<HHII", tag, typ, cnt, off)
        else:
            fmtc = {3: "H", 4: "I"}[typ]
            vals_ = val if isinstance(val, tuple) else (val,)
            blob = struct.pack(f"<{len(vals_)}{fmtc}", *vals_)
            out += struct.pack("<HHI", tag, typ, cnt) + blob.ljust(4, b"\x00")
    out += struct.pack("<I", 0)
    out += struct.pack("<2I", strip0, strip0 + h * w)     # offsets
    out += struct.pack("<2I", h * w, h * w)               # counts
    out += bands.tobytes()
    arr, _, _, _ = read_geotiff(bytes(out))
    assert arr.shape == (h, w, b)
    np.testing.assert_array_equal(np.moveaxis(arr, 2, 0), bands)


def test_spark_multiband_scan_sink(spark, tmp_path):
    """3-band file -> per-band tile rows -> reassembled RGB file."""
    from gdal_spark.sources.geotiff import (read_geotiff_tiles,
                                            write_geotiff_part_files)

    r, c = np.mgrid[0:20, 0:30]
    rgb = np.stack([(r + c) % 251, (2 * r) % 251, (3 * c) % 251],
                   axis=2).astype(np.uint8)
    src = tmp_path / "rgb.tif"
    with open(src, "wb") as fh:
        fh.write(write_geotiff(rgb, geotransform=(0.0, 1.0, 0, 20.0, 0, -1.0),
                               epsg=3857, compression="deflate"))
    tiles = read_geotiff_tiles(spark, str(src), tile_size=16)
    rows = tiles.collect()
    assert len(rows) == 3 * 2 * 2           # 3 bands x 2x2 ragged grid
    assert sorted({r["band"] for r in rows}) == [1, 2, 3]
    res = write_geotiff_part_files(tiles, str(tmp_path / "o"),
                                   tile_size=16).collect()
    with open(res[0]["out_path"], "rb") as fh:
        arr = read_geotiff(fh.read())[0]
    np.testing.assert_array_equal(arr, rgb)


def test_sink_anchors_cropped_tiles(spark, tmp_path):
    """A tile set missing the (0,0) origin tile (filtered/cropped
    upstream) must assemble anchored at min(tx)/min(ty) with the crop's
    own georeferenced origin — not zero-pad back to pixel (0,0) under
    the full-image origin."""
    from pyspark.sql import functions as F
    from gdal_spark.sources.geotiff import (read_geotiff_tiles,
                                            write_geotiff_part_files)

    img = _formula_img(48, 48, "u2")
    src = tmp_path / "src.tif"
    with open(src, "wb") as fh:
        fh.write(write_geotiff(img, geotransform=(100.0, 2.0, 0, 900.0,
                                                  0, -2.0), epsg=32633))
    tiles = read_geotiff_tiles(spark, str(src), tile_size=16)
    crop = tiles.filter((F.col("tx") >= 1) & (F.col("ty") >= 1))
    res = write_geotiff_part_files(crop, str(tmp_path / "o"),
                                   tile_size=16).collect()
    assert len(res) == 1 and res[0]["w"] == 32 and res[0]["h"] == 32
    with open(res[0]["out_path"], "rb") as fh:
        arr, gt, epsg, _ = read_geotiff(fh.read())
    np.testing.assert_array_equal(arr, img[16:, 16:])
    # origin = full origin shifted by one 16px tile in each axis
    assert gt == (100.0 + 16 * 2.0, 2.0, 0.0, 900.0 - 16 * 2.0, 0.0, -2.0)
    assert epsg == 32633


# ---- extended organization: tiles, BigTIFF, range reads, split scan -------
class TestExtendedOrg:
    GT = (10.0, 0.5, 0.0, 100.0, 0.0, -0.5)

    @pytest.mark.parametrize("bigtiff", [False, True])
    @pytest.mark.parametrize("tile", [None, 32, (48, 16)])
    @pytest.mark.parametrize("comp,pred", [(None, 1), ("deflate", 2)])
    def test_ext_roundtrip_and_ranges(self, bigtiff, tile, comp, pred):
        import io
        from gdal_spark.kernels.tiff import (read_tiff_rows, tiff_meta,
                                             write_geotiff_ext)
        img = (7 * np.arange(100 * 73).reshape(100, 73) % 253).astype(
            np.uint8)
        blob = write_geotiff_ext(img, geotransform=self.GT, epsg=32601,
                                 nodata=3.0, tile_size=tile,
                                 compression=comp, predictor=pred,
                                 bigtiff=bigtiff, rows_per_strip=9)
        f = io.BytesIO(blob)
        m = tiff_meta(f)
        assert (m.big, m.tiled) == (bigtiff, tile is not None)
        assert m.gt == self.GT and m.epsg == 32601 and m.nodata == 3.0
        np.testing.assert_array_equal(read_tiff_rows(f, m, 0, m.h), img)
        for lo, hi in [(0, 1), (13, 57), (95, 100), (31, 33)]:
            np.testing.assert_array_equal(
                read_tiff_rows(f, m, lo, hi), img[lo:hi])

    def test_read_geotiff_delegates_bigtiff_tiled(self):
        from gdal_spark.kernels.tiff import write_geotiff_ext
        img = (np.arange(48 * 64).reshape(48, 64) % 200).astype(np.uint8)
        for big, tile in [(True, None), (False, 16), (True, 32)]:
            blob = write_geotiff_ext(img, geotransform=self.GT,
                                     tile_size=tile, bigtiff=big,
                                     compression="deflate")
            arr, gt, _, _ = read_geotiff(blob)
            np.testing.assert_array_equal(arr, img)
            assert gt == self.GT

    def test_planar2_range_read(self):
        """Hand-built planar (band-major, MULTI-strip-per-band) file
        decodes band-correct through the seek-based range reader."""
        import io
        from gdal_spark.kernels.tiff import read_tiff_rows, tiff_meta
        h, w, b, rps = 10, 6, 3, 2
        bands = np.arange(h * w * b, dtype=np.uint8).reshape(b, h, w)
        spb = (h + rps - 1) // rps
        ns = spb * b
        entries = [
            (256, 4, 1, w), (257, 4, 1, h), (258, 3, 3, (8, 8, 8)),
            (259, 3, 1, 1), (262, 3, 1, 1), (273, 4, ns, None),
            (277, 3, 1, b), (278, 4, 1, rps), (279, 4, ns, None),
            (284, 3, 1, 2), (339, 3, 3, (1, 1, 1)),
        ]
        ifd_size = 2 + 12 * len(entries) + 4
        ext0 = 8 + ifd_size
        # external: bps(6B+pad), sfmt(6B+pad), soff(4*ns), scnt(4*ns)
        bps_off, sfmt_off = ext0, ext0 + 8
        soff_off, scnt_off = ext0 + 16, ext0 + 16 + 4 * ns
        strip0 = scnt_off + 4 * ns
        sbytes = rps * w
        offs = [strip0 + i * sbytes for i in range(ns)]
        out = bytearray(struct.pack("<2sHI", b"II", 42, 8))
        out += struct.pack("<H", len(entries))
        for tag, typ, cnt, val in entries:
            if tag == 258:
                out += struct.pack("<HHII", tag, typ, cnt, bps_off)
            elif tag == 339:
                out += struct.pack("<HHII", tag, typ, cnt, sfmt_off)
            elif tag == 273:
                out += struct.pack("<HHII", tag, typ, cnt, soff_off)
            elif tag == 279:
                out += struct.pack("<HHII", tag, typ, cnt, scnt_off)
            else:
                fmtc = {3: "H", 4: "I"}[typ]
                vals_ = val if isinstance(val, tuple) else (val,)
                blob = struct.pack(f"<{len(vals_)}{fmtc}", *vals_)
                out += struct.pack("<HHI", tag, typ, cnt) \
                    + blob.ljust(4, b"\x00")
        out += struct.pack("<I", 0)
        out += struct.pack("<3H", 8, 8, 8) + b"\x00\x00"
        out += struct.pack("<3H", 1, 1, 1) + b"\x00\x00"
        out += struct.pack(f"<{ns}I", *offs)
        out += struct.pack(f"<{ns}I", *([sbytes] * ns))
        for band in bands:
            out += band.tobytes()
        img = np.moveaxis(bands, 0, 2)
        f = io.BytesIO(bytes(out))
        m = tiff_meta(f)
        assert m.planar == 2 and m.rps == rps
        np.testing.assert_array_equal(read_tiff_rows(f, m, 0, h), img)
        np.testing.assert_array_equal(read_tiff_rows(f, m, 3, 9), img[3:9])

    def test_split_scan_matches_whole_file(self, spark, tmp_path):
        """read_geotiff_tiles_split == read_geotiff_tiles on the same
        files, across strip/tile/BigTIFF organizations, with splits
        much smaller than the file so multiple real splits occur."""
        from gdal_spark.kernels.tiff import write_geotiff_ext
        from gdal_spark.sources.geotiff import (read_geotiff_tiles,
                                                read_geotiff_tiles_split)
        rng = np.random.default_rng(9)
        img = rng.integers(0, 255, (130, 90), dtype=np.uint8)
        variants = [
            ("strips.tif", dict(rows_per_strip=7)),
            ("tiled.tif", dict(tile_size=32)),
            ("big.tif", dict(bigtiff=True, rows_per_strip=11,
                             compression="deflate", predictor=2)),
        ]
        for name, kw in variants:
            with open(tmp_path / name, "wb") as fh:
                fh.write(write_geotiff_ext(img, geotransform=self.GT,
                                           epsg=32601, **kw))
        glob = str(tmp_path / "*.tif")
        cols = ["path", "band", "tx", "ty", "w", "h", "px", "x0", "y0"]
        whole = {tuple(r[c] for c in cols[:4]): r
                 for r in read_geotiff_tiles(spark, glob, 16).collect()}
        # 16-row tiles, 2-row-band splits -> 130/16 ceil = 9 tile rows,
        # target_split_bytes tiny so every file gets many splits
        split = {tuple(r[c] for c in cols[:4]): r
                 for r in read_geotiff_tiles_split(
                     spark, glob, 16, target_split_bytes=2000).collect()}
        assert set(whole) == set(split)
        for k, rw in whole.items():
            rs = split[k]
            for c in cols[4:]:
                assert rw[c] == rs[c], (k, c)

    def test_split_plan_bounds_task_bytes(self, spark, tmp_path):
        from gdal_spark.kernels.tiff import write_geotiff_ext
        from gdal_spark.sources.geotiff import plan_geotiff_splits
        img = np.zeros((4096, 512), np.uint8)       # 2 MiB raw
        p = tmp_path / "wide.tif"
        with open(p, "wb") as fh:
            fh.write(write_geotiff_ext(img, compression="deflate"))
        plan = plan_geotiff_splits(spark, str(p), tile_size=256,
                                   target_split_bytes=256 * 512 * 2).collect()
        # 512 rows/split (aligned to 256), 8 splits
        assert len(plan) == 8
        assert all((r.row_hi - r.row_lo) == 512 for r in plan)
        assert all(r.row_lo % 256 == 0 for r in plan)
