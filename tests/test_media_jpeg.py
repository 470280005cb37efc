"""Baseline JPEG codec (kernels/media.py, written from ITU-T T.81).

Three layers of evidence:

1. Exact lossy-pipeline roundtrips: with UNIT quantization tables an
   image that is constant within each aligned 8x8 block has only a DC
   coefficient per block (an exact integer), so encode -> decode
   reproduces every pixel bit-for-bit — covering markers, canonical
   Huffman DC coding, byte stuffing, RSTn restarts and edge padding.
2. Entropy-coding losslessness on RANDOM images: the decoded pixels
   must equal an independent per-block reconstruction
   IDCT(round(DCT(img)/q) * q) computed directly in the test — any
   mis-coded AC coefficient (runs, ZRL, EOB, EXTEND) breaks equality.
3. Color paths: the exact expectation composes the rounded JFIF
   YCbCr<->RGB transforms; 4:2:0 fixtures are constant per 16x16 MCU
   so chroma downsampling is exact too.

Reference parity: GDAL reads the same baseline streams via libjpeg
(frmts/jpeg/jpgdataset.cpp); this codec is spec-written like the TIFF
(kernels/tiff.py) and PNG codecs.
"""

import numpy as np
import pytest

from gdal_spark.kernels import media as km


def _block_gray(h, w, seed=7):
    bR, bC = np.mgrid[0:h, 0:w]
    return (((bR // 8) * 13 + (bC // 8) * 3 + seed) % 256).astype(np.uint8)


def _expect_gray(img, q):
    """Independent reconstruction: IDCT(round(DCT/q)*q), bypassing the
    bitstream entirely."""
    p = km._plane_blocks(img)
    nby, nbx = p.shape[:2]
    zz = km._fdct_quant(p.reshape(-1, 8, 8), q)
    nat = np.zeros_like(zz)
    nat[:, km._ZIGZAG] = zz
    s = (nat * q[None, :]).astype(np.float64).reshape(-1, 8, 8)
    blk = np.einsum("xu,nuv,yv->nxy", km._DCT_T.T, s, km._DCT_T.T) + 128.0
    plane = (blk.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3)
             .reshape(nby * 8, nbx * 8))
    return np.clip(np.round(plane), 0, 255).astype(
        np.uint8)[:img.shape[0], :img.shape[1]]


@pytest.mark.parametrize("h,w", [(8, 8), (16, 24), (13, 21), (40, 33), (9, 9)])
def test_gray_block_constant_exact(h, w):
    img = _block_gray(h, w)
    out = km.decode_jpeg(km.encode_jpeg(img))
    assert out.shape == img.shape
    np.testing.assert_array_equal(out, img)


@pytest.mark.parametrize("ri", [1, 2, 3, 7])
def test_restart_markers_exact(ri):
    img = _block_gray(32, 40)
    payload = km.encode_jpeg(img, restart_interval=ri)
    assert b"\xFF\xDD" in payload          # DRI present
    np.testing.assert_array_equal(km.decode_jpeg(payload), img)


def test_color_444_block_constant_exact():
    rr, cc, ch = np.mgrid[0:16, 0:24, 0:3]
    img = (((rr // 8) * 13 + (cc // 8) * 3 + ch * 11 + 5) % 256).astype(
        np.uint8)
    y, cb, cr = km._rgb_to_ycbcr(img)
    expected = km._ycbcr_to_rgb(y, cb, cr)
    out = km.decode_jpeg(km.encode_jpeg(img, subsampling="444"))
    np.testing.assert_array_equal(out, expected)


def test_color_420_mcu_constant_exact():
    rr, cc, ch = np.mgrid[0:32, 0:48, 0:3]
    img = (((rr // 16) * 13 + (cc // 16) * 3 + ch * 11 + 5) % 256).astype(
        np.uint8)
    y, cb, cr = km._rgb_to_ycbcr(img)
    expected = km._ycbcr_to_rgb(y, cb, cr)
    out = km.decode_jpeg(km.encode_jpeg(img, subsampling="420"))
    np.testing.assert_array_equal(out, expected)


@pytest.mark.parametrize("q", [None, 90, 50, 10])
def test_random_gray_entropy_lossless(q):
    rng = np.random.RandomState(42 if q is None else q)
    img = rng.randint(0, 256, (37, 51)).astype(np.uint8)
    qlum, _ = km._quality_tables(q)
    out = km.decode_jpeg(km.encode_jpeg(img, quality=q))
    np.testing.assert_array_equal(out, _expect_gray(img, qlum))


def test_random_gray_entropy_lossless_with_restarts():
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (24, 40)).astype(np.uint8)
    qlum, _ = km._quality_tables(80)
    out = km.decode_jpeg(km.encode_jpeg(img, quality=80, restart_interval=2))
    np.testing.assert_array_equal(out, _expect_gray(img, qlum))


def test_random_color_quality_close():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (41, 59, 3)).astype(np.uint8)
    out = km.decode_jpeg(km.encode_jpeg(img, quality=90, restart_interval=4))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 12.0


def test_smooth_color_420_quality_close():
    rr, cc = np.mgrid[0:30, 0:46]
    img = np.stack([(rr * 2 + cc) % 200 + 20,
                    (rr + cc * 2) % 200 + 20,
                    (rr + cc) % 200 + 20], axis=2).astype(np.uint8)
    out = km.decode_jpeg(km.encode_jpeg(img, quality=90, subsampling="420"))
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 8.0


def test_rejects_progressive_and_non_jpeg():
    with pytest.raises(ValueError, match="SOI"):
        km.decode_jpeg(b"\x89PNG not a jpeg")
    img = _block_gray(8, 8)
    raw = bytearray(km.encode_jpeg(img))
    i = raw.find(b"\xFF\xC0")
    raw[i + 1] = 0xC2                      # SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="baseline"):
        km.decode_jpeg(bytes(raw))


def test_decoder_uses_stream_tables_not_defaults():
    # Re-point the DQT to a doubled luma table: decoder must dequantize
    # with the stream's table, so pixels change in the expected way.
    img = _block_gray(16, 16)              # DC-only fixture
    raw = bytearray(km.encode_jpeg(img, quality=None))
    i = raw.find(b"\xFF\xDB")
    body = np.frombuffer(bytes(raw[i + 5:i + 69]), dtype=np.uint8)
    doubled = (body.astype(np.int64) * 2).clip(1, 255).astype(np.uint8)
    raw[i + 5:i + 69] = doubled.tobytes()
    out = km.decode_jpeg(bytes(raw))
    # DC doubled => pixel deviation from 128 doubles (clamped)
    exp = np.clip(128 + (img.astype(np.int64) - 128) * 2, 0, 255)
    np.testing.assert_array_equal(out, exp.astype(np.uint8))


def test_jpeg_features_gray_repeats_channels():
    img = _block_gray(16, 24)
    f = km.jpeg_features(km.encode_jpeg(img))
    assert (f["width"], f["height"]) == (24, 16)
    assert f["mean_r"] == f["mean_g"] == f["mean_b"] == img.mean()


def test_decode_media_real_jpeg_distributed(spark):
    from gdal_spark.operators import multimodal as mm

    docs = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    feats = {r["doc_id"]: r
             for r in mm.decode_media_real(
                 mm.synth_jpeg_col_rows(docs)).collect()}
    assert len(feats) == 24
    for did in range(24):
        w, h = 9 + did % 16, 9 + did % 12
        rr, cc = np.mgrid[0:h, 0:w]
        a = ((did * 7 + (rr // 8) * 13 + (cc // 8) * 3) % 256)
        r = feats[did]
        assert (r["width"], r["height"]) == (w, h)
        assert r["mean_r"] == pytest.approx(a.mean(), abs=0)


def test_multi_scan_jpeg_raises_not_garbage():
    # A baseline JPEG split into per-component scans is spec-valid but
    # unsupported — must raise, not return color-shifted pixels
    # (review finding).  Truncate the SOS component list to 1 of 3.
    rr, cc, ch = np.mgrid[0:16, 0:16, 0:3]
    img = (((rr // 8) * 13 + (cc // 8) * 3 + ch * 11) % 256).astype(np.uint8)
    raw = bytearray(km.encode_jpeg(img))
    i = raw.find(b"\xFF\xDA")
    # SOS: len(2) ns(1) [cs tt]*ns ss se ah_al — rewrite ns=1, keep comp 1
    comp1 = bytes(raw[i + 5:i + 7])
    tail = bytes(raw[i + 5 + 6:])      # ss/se/ahal + entropy data
    import struct
    new_sos = b"\xFF\xDA" + struct.pack(">H", 2 + 1 + 2 + 3) + b"\x01" \
        + comp1 + tail[:3]
    with pytest.raises(ValueError, match="multi-scan"):
        km.decode_jpeg(bytes(raw[:i]) + new_sos + tail[3:])


def test_huff_lut_cache_bounded():
    from gdal_spark.kernels.media import _HUFF_LUT_CACHE, _huff_decode_table
    for v in range(80):
        bits = [0, 1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
        _huff_decode_table(bits, [v % 256, (v + 1) % 256])
    assert len(_HUFF_LUT_CACHE) <= 64


def test_truncated_fill_bytes_raise_value_error():
    # a payload that ends inside a run of 0xFF fill bytes must raise the
    # parser contract's ValueError, not IndexError
    raw = km.encode_jpeg(_block_gray(8, 8))
    i = raw.find(b"\xFF\xDB")
    for cut in (b"\xFF\xFF", b"\xFF\xFF\xFF\xFF"):
        with pytest.raises(ValueError, match="truncated JPEG"):
            km.decode_jpeg(raw[:i] + cut)


def test_single_component_sampling_above_one_raises():
    # one-component scans are non-interleaved (T.81 A.2.3); decoding
    # them as 2x2 MCUs would scramble blocks, so the decoder refuses
    raw = bytearray(km.encode_jpeg(_block_gray(16, 16)))
    i = raw.find(b"\xFF\xC0")
    assert raw[i + 9] == 1 and raw[i + 11] == 0x11    # nc=1, h=v=1
    raw[i + 11] = 0x22
    with pytest.raises(ValueError, match="single-component"):
        km.decode_jpeg(bytes(raw))


def test_stream_without_eoi_keeps_last_entropy_byte():
    assert km._entropy_segments(b"\x12\x34", 0) == [b"\x12\x34"]
    assert km._entropy_segments(b"\x12\xFF\x00\x34", 0) == [b"\x12\xFF\x34"]
    assert km._entropy_segments(b"\x12\x34\xFF", 0) == [b"\x12\x34"]
    img = np.random.default_rng(3).integers(0, 256, (24, 24), dtype=np.uint8)
    raw = km.encode_jpeg(img, quality=75)
    assert raw.endswith(b"\xFF\xD9")
    np.testing.assert_array_equal(km.decode_jpeg(raw[:-2]), km.decode_jpeg(raw))


def _einsum_idct(s):
    """The decoder's former IDCT: one einsum over all blocks."""
    return np.einsum("xu,nuv,yv->nxy", km._DCT_T.T, s, km._DCT_T.T) + 128.0


def _random_jpegs(n, seed):
    """Seeded random baseline JPEGs: gray and RGB, quality None / 10 /
    50 / 75 / 90 / 95, 4:4:4 and 4:2:0, restart interval 0..3, 1-40 px
    sides, content from noise to block-constant."""
    rng = np.random.RandomState(seed)
    out = []
    for i in range(n):
        h, w = rng.randint(1, 41), rng.randint(1, 41)
        shape = (h, w) if i % 3 == 0 else (h, w, 3)
        img = rng.randint(0, 256, size=shape)
        if i % 4 == 1:                      # smooth: a ramp plus noise
            img = np.add.outer(np.arange(h), np.arange(w)) * rng.randint(1, 9)
            if len(shape) == 3:
                img = img[..., None] + np.array([0, 40, 80])
            img = img % 256 + rng.randint(-8, 9, size=shape)
        elif i % 4 == 2:                    # constant 8x8 blocks
            img = np.kron(rng.randint(0, 256, size=((h + 7) // 8, (w + 7) // 8)),
                          np.ones((8, 8), dtype=np.int64))[:h, :w]
            if len(shape) == 3:
                img = np.stack([img, img[::-1], img[:, ::-1]], axis=2)
        out.append(km.encode_jpeg(
            np.clip(img, 0, 255).astype(np.uint8),
            quality=(None, 10, 50, 75, 90, 95)[i % 6],
            subsampling=("444", "420")[i // 6 % 2],
            restart_interval=i // 12 % 4))
    return out


def test_matmul_idct_bit_identical_to_einsum(monkeypatch):
    """decode_jpeg's two-matmul IDCT gives the same pixels as the
    einsum it replaced, on the benchmark's JPEG recipe (perfbench
    media_decode, three seeds) and on 1,500 seeded random JPEGs."""
    from perfbench.inputs import media_payloads

    corpus = _random_jpegs(1500, seed=20261017)
    for seed in (1, 2, 3):
        pay, _ = media_payloads(800, seed)
        corpus += [bytes(p) for p in pay.loc[pay["kind"] == "jpeg", "payload"]]
    new = [km.decode_jpeg(p) for p in corpus]
    monkeypatch.setattr(km, "_idct_blocks", _einsum_idct)
    for p, a in zip(corpus, new):
        b = km.decode_jpeg(p)
        assert a.dtype == b.dtype and a.shape == b.shape
        np.testing.assert_array_equal(a, b)


# One Huffman LUT is two 65,536-entry byte tables (value, code length).
# A mutated DHT makes the decoder build fresh ones — at most the four
# tables of a colour scan — so the slack covers four of them plus
# 64 KiB for everything else.
_HUFF_LUT_BYTES = 2 * 65536


def test_jpeg_hostile_input_raises_value_error_with_bounded_allocation(hostile_contract):
    """Marker, table, sampling and entropy corruption raises ValueError
    only (not IndexError, KeyError, OverflowError or struct.error), and
    a SOF that declares more blocks than the entropy-coded bytes can
    hold (2 bits each at least) is refused before coefficients are
    allocated."""
    import tracemalloc

    slack = 4 * _HUFF_LUT_BYTES + 64 * 1024
    rng = np.random.RandomState(6)
    gray = km.encode_jpeg(rng.randint(0, 256, (13, 21)).astype(np.uint8),
                          quality=75, restart_interval=2)
    hostile_contract(km.decode_jpeg, gray, seed=10, head=128, slack=slack)
    rgb = km.encode_jpeg(rng.randint(0, 256, (13, 21, 3)).astype(np.uint8),
                         quality=75, subsampling="420", restart_interval=1)
    hostile_contract(km.decode_jpeg, rgb, seed=11, head=128, slack=slack)

    raw = bytearray(gray)
    i = raw.find(b"\xFF\xC0")
    raw[i + 5:i + 9] = b"\xFF\xFF\xFF\xFF"          # 65535 x 65535 px
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="entropy-coded bytes"):
            km.decode_jpeg(bytes(raw))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak <= len(raw) + 64 * 1024, peak
