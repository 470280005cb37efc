"""Media codec kernels (kernels/media.py): WAV/BMP roundtrips,
feature extraction, and the distributed decode path."""

import numpy as np
import pytest

from gdal_spark.kernels import media as km


def test_wav_roundtrip():
    s = np.array([0, 1, -1, 32767, -32768, 100], dtype=np.int16)
    rate, out = km.decode_wav(km.encode_wav(s, rate=44100))
    assert rate == 44100
    np.testing.assert_array_equal(out, s)


def test_wav_extra_chunk_walk():
    # RIFF chunk list may interleave unknown chunks between fmt and data.
    s = np.arange(-5, 5, dtype=np.int16)
    raw = bytearray(km.encode_wav(s, rate=8000))
    # splice a junk chunk right after 'fmt ' (ends at 12+8+16=36)
    junk = b"LIST" + (7).to_bytes(4, "little") + b"junk123" + b"\x00"  # padded
    raw2 = bytes(raw[:36]) + junk + bytes(raw[36:])
    rate, out = km.decode_wav(raw2)
    assert rate == 8000
    np.testing.assert_array_equal(out, s)


def test_wav_rejects_non_pcm():
    raw = bytearray(km.encode_wav(np.zeros(4, dtype=np.int16)))
    raw[20] = 3  # fmt tag -> IEEE float
    with pytest.raises(ValueError, match="non-PCM"):
        km.decode_wav(bytes(raw))


@pytest.mark.parametrize("w,h", [(1, 1), (3, 2), (8, 6), (15, 11), (5, 7)])
def test_bmp_roundtrip_all_paddings(w, h):
    # w=1,3,5 exercise every row-padding remainder (3w mod 4).
    rng = np.random.default_rng(w * 100 + h)
    a = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    out = km.decode_bmp(km.encode_bmp(a))
    np.testing.assert_array_equal(out, a)


def test_bmp_features_match_array():
    a = np.zeros((4, 4, 3), dtype=np.uint8)
    a[:, :, 0] = 10
    a[:, :, 1] = 20
    a[:, :, 2] = 255
    f = km.bmp_features(km.encode_bmp(a))
    assert f == {"width": 4, "height": 4,
                 "mean_r": 10.0, "mean_g": 20.0, "mean_b": 255.0}


def test_wav_features_formula():
    s = np.array([3, -4], dtype=np.int16)
    f = km.wav_features(km.encode_wav(s, rate=1000))
    assert f["rate"] == 1000 and f["n_samples"] == 2
    assert f["duration_ms"] == 2
    assert f["peak"] == 4
    assert f["rms"] == np.sqrt((9 + 16) / 2)


def test_decode_media_real_distributed(spark):
    from gdal_spark.operators import multimodal as mm

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    media = mm.synth_media_col_rows(docs)
    rows = {r["doc_id"]: r for r in mm.decode_media_real(media).collect()}
    assert len(rows) == 40
    # spot-check one wav and one bmp against the serial kernels
    did = 6
    n = 64 + did % 64
    i = np.arange(n)
    s = ((did * 31 + i * 17) % 2048) - 1024
    r = rows[did]
    assert r["kind"] == "wav" and r["n_samples"] == n
    assert r["peak"] == int(np.abs(s).max())
    assert r["rms"] == pytest.approx(float(np.sqrt((s.astype(float) ** 2).mean())), abs=0)
    did = 7
    w, h = 8 + did % 8, 6 + did % 6
    rr, cc = np.mgrid[0:h, 0:w]
    r = rows[did]
    assert r["kind"] == "bmp" and (r["width"], r["height"]) == (w, h)
    assert r["mean_r"] == float(((did * 7 + rr * 13 + cc * 3) % 256).mean())


def test_decode_media_real_rejects_unknown_kind(spark):
    from gdal_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, "mp4", bytearray(b"\x00\x00\x00 ftypisom"))],
        "doc_id long, kind string, payload binary")
    with pytest.raises(Exception, match="no stdlib codec"):
        mm.decode_media_real(df).collect()


# ---- PNG ------------------------------------------------------------------
def test_png_roundtrip_all_filters_and_colortypes():
    rng = np.random.default_rng(11)
    for shape in [(7, 5, 3), (6, 4, 4), (9, 3), (5, 5, 3),
                  (1, 8, 3), (8, 1, 3), (1, 1)]:
        a = rng.integers(0, 256, shape, dtype=np.uint8)
        for mode in ("cycle", "none"):
            back = km.decode_png(km.encode_png(a, mode))
            assert back.shape == a.shape
            assert (back == a).all(), (shape, mode)


def test_png_decodes_external_bytes():
    """A widely-published externally-encoded 1x1 RGBA PNG must decode
    to its known pixel (255, 0, 0, 127) — validates signature, chunk
    walk, zlib stream, and IHDR parse against a foreign encoder."""
    import base64
    b64 = ("iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8"
           "z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    a = km.decode_png(base64.b64decode(b64))
    assert a.shape == (1, 1, 4)
    assert a.tolist() == [[[255, 0, 0, 127]]]


def test_png_rejects_unsupported():
    a = np.zeros((4, 4), dtype=np.uint8)
    blob = bytearray(km.encode_png(a))
    with pytest.raises(ValueError, match="not a PNG"):
        km.decode_png(b"\x00" + bytes(blob[1:]))
    blob[24] = 16                       # depth byte in IHDR
    with pytest.raises(ValueError, match="8-bit"):
        km.decode_png(bytes(blob))


def test_png_features_gray_repeats_channels():
    a = (np.arange(30, dtype=np.uint8).reshape(6, 5) * 7) % 256
    f = km.png_features(km.encode_png(a))
    assert f["width"] == 5 and f["height"] == 6
    assert f["mean_r"] == f["mean_g"] == f["mean_b"] == a.mean()


# ---- hostile input: ValueError only, allocation bounded -------------------
# 64 KiB of slack: zlib's inflate window alone is 32 KiB.
def test_png_hostile_input_raises_value_error_with_bounded_allocation(hostile_contract):
    img = np.random.RandomState(3).randint(0, 256, (9, 13, 3)).astype(np.uint8)
    hostile_contract(km.decode_png, km.encode_png(img), seed=7, head=64, slack=64 * 1024)


def test_bmp_hostile_input_raises_value_error_with_bounded_allocation(hostile_contract):
    img = np.random.RandomState(4).randint(0, 256, (9, 13, 3)).astype(np.uint8)
    hostile_contract(km.decode_bmp, km.encode_bmp(img), seed=8, head=64, slack=64 * 1024)


def test_wav_hostile_input_raises_value_error_with_bounded_allocation(hostile_contract):
    s = np.random.RandomState(5).randint(-3000, 3000, 200).astype(np.int16)
    hostile_contract(km.decode_wav, km.encode_wav(s), seed=9, head=64, slack=64 * 1024)


@pytest.mark.parametrize("shape", [(0, 5), (5, 0), (0, 0)])
@pytest.mark.parametrize("channels", [None, 3, 4], ids=["gray", "rgb", "rgba"])
def test_png_zero_size_roundtrip(shape, channels):
    """A zero-row or zero-column image encodes (every filter of the
    cycle, none of them reading a byte that is not there) and decodes
    back to the same shape."""
    img = np.zeros(shape if channels is None else (*shape, channels), np.uint8)
    out = km.decode_png(km.encode_png(img))
    assert out.shape == img.shape and out.dtype == np.uint8


def test_png_inflates_no_more_than_ihdr_declares():
    """A 1x1 gray PNG whose IDAT inflates to 8 MB is refused after
    inflating two bytes past its declared size, not after all 8 MB;
    a size deflate cannot reach is refused before inflating."""
    import struct
    import tracemalloc
    import zlib

    sig = km.encode_png(np.zeros((1, 1), dtype=np.uint8))[:8]

    def png(w, h, idat):
        return (sig + km._png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
                + km._png_chunk(b"IDAT", idat) + km._png_chunk(b"IEND", b""))

    bomb = png(1, 1, zlib.compress(bytes(8 << 20), 9))
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="IDAT size mismatch"):
            km.decode_png(bomb)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak <= len(bomb) + 64 * 1024, peak
    with pytest.raises(ValueError, match="exceeds what"):
        km.decode_png(png(1 << 20, 1 << 20, zlib.compress(b"\x00" * 16)))
