"""Batch media kernels (kernels/media.py ``*_batch``) and the Arrow maps
that call them (operators/multimodal.py).

Bit-identity is the contract: perfbench's media_decode checks floored
micro-unit sums of every mean exactly, so a batch kernel must return
the very floats the per-payload features (numpy means of the decoded
arrays) return, not merely close ones.
"""

import struct

import numpy as np
import pyarrow as pa
import pytest

from gdal_spark.kernels import media as km
from gdal_spark.operators import multimodal as mm
from test_media_jpeg import _random_jpegs

_PER_PAYLOAD = {"wav": km.wav_features, "bmp": km.bmp_features,
                "png": km.png_features, "jpeg": km.jpeg_features}


def _assert_batch_equals_per_payload(kind, payloads):
    got = getattr(km, f"{kind}_batch")(payloads)
    want = [_PER_PAYLOAD[kind](p) for p in payloads]
    for c in want[0]:
        col = np.array([w[c] for w in want])
        assert got[c].dtype.kind == col.dtype.kind, c
        assert np.array_equal(got[c], col, equal_nan=True), c


def _top_down_bmp(img):
    """A BMP with negative biHeight: rows stored top row first."""
    raw = bytearray(km.encode_bmp(img[::-1]))
    raw[22:26] = struct.pack("<i", -img.shape[0])
    return bytes(raw)


def _random_pngs(n, seed):
    """Gray / RGB / RGBA (colour types 0, 2, 6), 5+ rows so the cycling
    filter uses all five filter types."""
    rng = np.random.RandomState(seed)
    out = []
    for i in range(n):
        h, w = rng.randint(5, 20), rng.randint(1, 20)
        shape = ((h, w), (h, w, 3), (h, w, 4))[i % 3]
        out.append(km.encode_png(rng.randint(0, 256, shape).astype(np.uint8), "cycle"))
    return out


def _random_wavs(n, seed):
    rng = np.random.RandomState(seed)
    out = []
    for i in range(n):
        s = rng.randint(-32768, 32768, size=rng.randint(0, 600))
        if i % 5 == 0 and s.size:
            s[0] = -32768                  # abs() wraps in int16
        out.append(km.encode_wav(s.astype(np.int16), rate=int(rng.choice([8000, 22050, 44100]))))
    return out


def test_jpeg_batch_bit_identical_to_per_payload():
    """Gray and RGB, 4:4:4 and 4:2:0, quality None/10/50/75/90/95,
    restart interval 0-3, 1-40 px sides; plus the benchmark recipe."""
    from perfbench.inputs import media_payloads

    corpus = _random_jpegs(600, seed=20261019)
    for seed in (1, 2, 3):
        pay, _ = media_payloads(400, seed)
        corpus += [bytes(p) for p in pay.loc[pay["kind"] == "jpeg", "payload"]]
    _assert_batch_equals_per_payload("jpeg", corpus)


def test_png_bmp_wav_batches_bit_identical_to_per_payload():
    from perfbench.inputs import media_payloads

    rng = np.random.RandomState(5)
    imgs = [rng.randint(0, 256, (rng.randint(1, 30), rng.randint(1, 30), 3)).astype(np.uint8)
            for _ in range(120)]
    bmps = [km.encode_bmp(a) if i % 2 else _top_down_bmp(a) for i, a in enumerate(imgs)]
    np.testing.assert_array_equal(km.decode_bmp(_top_down_bmp(imgs[0])), imgs[0])
    corpus = {"png": _random_pngs(150, 6), "bmp": bmps, "wav": _random_wavs(150, 7)}
    for seed in (1, 2, 3):
        pay, _ = media_payloads(400, seed)
        for kind in corpus:
            corpus[kind] += [bytes(p) for p in pay.loc[pay["kind"] == kind, "payload"]]
    for kind, payloads in corpus.items():
        _assert_batch_equals_per_payload(kind, payloads)


def test_wav_batch_falls_back_to_float_mean_past_2_pow_53():
    """Squared samples summing past 2**53 are not exact in float64;
    there the batch kernel uses the float mean itself."""
    s = np.full(9_500_000, -32768, dtype=np.int16)
    s[::7] = np.random.RandomState(8).randint(-32768, 32768, size=len(s[::7]))
    big = km.encode_wav(s)
    exact = int((s.astype(np.int64) ** 2).sum())
    assert exact >= 1 << 53
    x = s.astype(np.float64)
    assert (x * x).mean() != exact / s.size     # the float sum rounded
    _assert_batch_equals_per_payload("wav", [km.encode_wav(s[:100]), big])


def test_avi_frame_batch_bit_identical_to_decoded_frames():
    from perfbench.inputs import avi_payloads

    blobs = []
    for seed in (1, 2):
        avi, _ = avi_payloads(60, seed, first_id=0)
        blobs += [bytes(p) for p in avi["payload"]]
    for stride in (1, 2, 3):
        got = km.avi_frame_batch(blobs, stride)
        means, rows = [], []
        for i, p in enumerate(blobs):
            rate, scale, frames = km.decode_avi(p)
            sampled = frames[::stride]
            means.append(sampled.reshape(len(sampled), -1, 3).mean(axis=1, dtype=np.float64))
            rows += [i] * len(sampled)
        m = np.concatenate(means)
        np.testing.assert_array_equal(got["row"], rows)
        for c, col in enumerate(("mean_r", "mean_g", "mean_b")):
            assert np.array_equal(got[col], m[:, c])


def _large_payload(kind):
    """One payload of each kind big enough that a few fill a run."""
    yy, xx = np.mgrid[0:256, 0:256]
    img = np.stack([(yy + xx) // 2, yy, 255 - xx], axis=-1).astype(np.uint8)
    if kind == "jpeg":
        return km.encode_jpeg(img, quality=50, subsampling="420")
    if kind == "png":
        return km.encode_png(img[:96], "cycle")
    if kind == "bmp":
        return km.encode_bmp(img[:, :80])
    return km.encode_wav((np.arange(90_000) * 37 % 65536 - 32768).astype(np.int16))


@pytest.mark.parametrize("kind", ["jpeg", "png", "bmp", "wav"])
def test_batch_kernel_peak_memory_is_one_runs_not_the_batchs(kind):
    """A batch kernel decodes a run of at most _RUN_SAMPLES samples at a
    time, so six runs' worth of payloads peak like one run's worth; a
    kernel that decoded the whole list at once would peak about six
    times higher.  The features still match the per-payload ones across
    the run boundaries."""
    import tracemalloc

    p = _large_payload(kind)
    kernel = getattr(km, f"{kind}_batch")
    samples = {"jpeg": lambda: 64 * km._jpeg_parse(p).nblocks,
               "png": lambda: km.decode_png(p).size,
               "bmp": lambda: km.decode_bmp(p).size,
               "wav": lambda: km.decode_wav(p)[1].size}[kind]()
    per_run = km._RUN_SAMPLES // samples
    assert per_run >= 2
    kernel([p])                              # warm caches (Huffman LUTs)

    def peak(payloads):
        tracemalloc.start()
        try:
            got = kernel(payloads)
            return tracemalloc.get_traced_memory()[1], got
        finally:
            tracemalloc.stop()

    one_run, _ = peak([p] * per_run)
    six_runs, got = peak([p] * (6 * per_run))
    assert six_runs <= 1.25 * one_run, (six_runs, one_run)
    want = _PER_PAYLOAD[kind](p)
    for c, v in want.items():
        assert (got[c] == v).all(), c


# ---- edge semantics -----------------------------------------------------
def test_zero_sample_wav_gives_zero_rms_and_peak_inside_a_batch():
    wavs = [km.encode_wav(np.array(s, dtype=np.int16))
            for s in ([3, -4], [], [5], [])]
    got = km.wav_batch(wavs)
    assert got["rms"].tolist() == [np.sqrt(12.5), 0.0, 5.0, 0.0]
    assert got["peak"].tolist() == [4, 0, 5, 0]
    assert got["n_samples"].tolist() == [2, 0, 1, 0]


def test_zero_pixel_images_keep_nan_means_inside_a_batch():
    import zlib

    def png(w, h, ctype):                   # encode_png needs a row
        return (km._PNG_SIG + km._png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
                + km._png_chunk(b"IDAT", zlib.compress(bytes(h))) + km._png_chunk(b"IEND", b""))

    rgb = np.full((2, 3, 3), 7, dtype=np.uint8)
    for kind, empties in (("bmp", [km.encode_bmp(np.zeros((0, 4, 3), np.uint8)),
                                   km.encode_bmp(np.zeros((3, 0, 3), np.uint8))]),
                          ("png", [png(4, 0, 2), png(0, 3, 0)])):
        enc = getattr(km, f"encode_{kind}")
        payloads = [enc(rgb), empties[0], enc(rgb), empties[1]]
        got = getattr(km, f"{kind}_batch")(payloads)
        assert got["mean_g"][0] == got["mean_g"][2] == 7.0
        assert np.isnan(got["mean_g"][[1, 3]]).all()
        assert got["width"].tolist() == [3, 4, 3, 0] and got["height"].tolist() == [2, 0, 2, 3]
        with pytest.warns(RuntimeWarning):          # numpy's mean of nothing
            _assert_batch_equals_per_payload(kind, payloads)


def _media_batch(kinds, payloads):
    return pa.RecordBatch.from_arrays(
        [pa.array(range(len(kinds)), pa.int64()), pa.array(kinds, pa.string()),
         pa.array(payloads, pa.binary())], names=["doc_id", "kind", "payload"])


def test_empty_arrow_batch_yields_nothing():
    assert list(mm._decode_batches(iter([_media_batch([], [])]))) == []
    empty = pa.RecordBatch.from_arrays(
        [pa.array([], pa.int64()), pa.array([], pa.binary())], names=["doc_id", "payload"])
    assert list(mm._sample_batches(iter([empty]), stride=2)) == []


def test_mixed_kind_batch_matches_per_payload_features():
    """One Arrow batch interleaving all four kinds (the benchmark
    recipe) decodes row for row like the per-payload features."""
    from perfbench.inputs import media_payloads

    pay, _ = media_payloads(200, 3)
    kinds, blobs = list(pay["kind"]), [bytes(p) for p in pay["payload"]]
    (out,) = mm._decode_batches(iter([_media_batch(kinds, blobs)]))
    got = out.to_pydict()
    assert got["kind"] == kinds and got["doc_id"] == list(range(len(kinds)))
    for i, (kind, blob) in enumerate(zip(kinds, blobs)):
        for c, v in _PER_PAYLOAD[kind](blob).items():
            assert got[c][i] == v, (i, kind, c)
        zero = {"rate", "n_samples", "duration_ms", "rms", "peak"} if kind != "wav" \
            else {"width", "height", "mean_r", "mean_g", "mean_b"}
        assert all(got[c][i] == 0 for c in zero)


def test_extra_columns_decode_like_the_three_column_projection(spark):
    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    media = mm.synth_media_col_rows(docs)
    wide = media.selectExpr("'x' AS note", "payload", "doc_id * 2 AS other",
                            "kind", "doc_id")
    want = sorted(mm.decode_media_real(media).collect())
    assert want and sorted(mm.decode_media_real(wide).collect()) == want
