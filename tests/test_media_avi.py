"""AVI container codec (kernels/media.py) + real frame sampling.

The container is RIFF 'AVI ' with uncompressed 24-bit DIB frames —
the same bottom-up BGR row-padded pixel layout as BMP, so decode is
exact and the catalog oracle (media_decode_avi) re-derives every
sampled frame's features from the generating pixel formula.
"""

import numpy as np
import pytest

from gdal_spark.kernels import media as km


@pytest.mark.parametrize("n,h,w", [(1, 5, 6), (4, 7, 9), (9, 6, 5),
                                   (3, 8, 8), (2, 1, 1)])
def test_avi_roundtrip_exact(n, h, w):
    rng = np.random.default_rng(n * 100 + h * 10 + w)
    fr = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
    rate, scale, out = km.decode_avi(km.encode_avi(fr, rate=12, scale=1))
    assert (rate, scale) == (12, 1)
    np.testing.assert_array_equal(out, fr)


def test_avi_tolerates_unknown_chunks():
    fr = np.arange(2 * 3 * 4 * 3, dtype=np.uint8).reshape(2, 3, 4, 3)
    raw = bytearray(km.encode_avi(fr))
    # splice a junk chunk right after the 'AVI ' fourcc (offset 12)
    junk = b"JUNK" + (6).to_bytes(4, "little") + b"abcdef"
    raw2 = bytes(raw[:12]) + junk + bytes(raw[12:])
    # fix the RIFF size field
    raw2 = raw2[:4] + (len(raw2) - 8).to_bytes(4, "little") + raw2[8:]
    _, _, out = km.decode_avi(raw2)
    np.testing.assert_array_equal(out, fr)


def test_avi_rejects_compressed_and_non_avi():
    with pytest.raises(ValueError, match="not an AVI"):
        km.decode_avi(b"RIFF\x04\x00\x00\x00WAVE")
    fr = np.zeros((1, 4, 4, 3), dtype=np.uint8)
    raw = bytearray(km.encode_avi(fr))
    i = raw.find(b"strf")
    # biCompression field: strf body starts at i+8, compression at +16
    raw[i + 8 + 16:i + 8 + 20] = (1).to_bytes(4, "little")  # BI_RLE8
    with pytest.raises(ValueError, match="BI_RGB"):
        km.decode_avi(bytes(raw))


def test_frame_sample_real_distributed(spark):
    from gdal_spark.operators import multimodal as mm

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    rows = mm.frame_sample_real(
        mm.synth_avi_col_rows(docs), stride=2).collect()
    by_key = {(r["doc_id"], r["frame_idx"]): r for r in rows}
    total = 0
    for did in range(12):
        nf = 4 + did % 9
        w, h = 6 + did % 8, 5 + did % 6
        rate = 10 + did % 10
        for f in range(0, nf, 2):
            total += 1
            r = by_key[(did, f)]
            assert (r["width"], r["height"]) == (w, h)
            assert r["ts_ms"] == f * 1000 // rate
            rr, cc = np.mgrid[0:h, 0:w]
            exp = float(((did * 7 + f * 19 + rr * 13 + cc * 3) % 256).mean())
            assert r["mean_r"] == exp
    assert len(rows) == total


def test_avi_with_audio_stream_decodes_video():
    # A wild AVI carries an 'auds' strl whose strf is WAVEFORMATEX —
    # it must NOT be validated as a BITMAPINFOHEADER (review finding).
    import struct
    fr = np.arange(2 * 4 * 5 * 3, dtype=np.uint8).reshape(2, 4, 5, 3)
    raw = km.encode_avi(fr, rate=10)

    def chunk(tag, body):
        out = tag + struct.pack("<I", len(body)) + body
        return out + (b"\x00" if len(body) % 2 else b"")

    auds_strh = (b"auds" + b"\x00" * 4
                 + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 8000, 0,
                               100, 0, 0, 0) + struct.pack("<4h", 0, 0, 0, 0))
    # WAVEFORMATEX: PCM, mono, 8 kHz, 16-bit -> bytes 14:16 are NOT 24
    auds_strf = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    strl = chunk(b"LIST", b"strl" + chunk(b"strh", auds_strh)
                 + chunk(b"strf", auds_strf))
    # splice the audio strl into hdrl: rebuild the file around it
    i = raw.find(b"LIST", 12)          # hdrl LIST
    (hdrl_len,) = struct.unpack("<I", raw[i + 4:i + 8])
    hdrl_end = i + 8 + hdrl_len
    new_hdrl_body = raw[i + 8:hdrl_end] + strl
    rebuilt = (raw[:i] + chunk(b"LIST", new_hdrl_body) + raw[hdrl_end:])
    rebuilt = rebuilt[:4] + struct.pack("<I", len(rebuilt) - 8) + rebuilt[8:]
    rate, scale, out = km.decode_avi(rebuilt)
    assert rate == 10
    np.testing.assert_array_equal(out, fr)


def test_avi_without_vids_stream_raises_cleanly():
    import struct
    fr = np.zeros((1, 4, 4, 3), dtype=np.uint8)
    raw = bytearray(km.encode_avi(fr))
    i = raw.find(b"strh")
    raw[i + 8:i + 12] = b"text"        # no vids stream any more
    with pytest.raises(ValueError, match="vids"):
        km.decode_avi(bytes(raw))


def test_top_down_avi_decodes_upright():
    # negative strf biHeight = top-down DIB rows (as decode_bmp reads
    # them); such a stream must not come back vertically flipped
    import struct
    fr = np.random.default_rng(5).integers(0, 256, (3, 5, 7, 3),
                                           dtype=np.uint8)
    raw = bytearray(km.encode_avi(fr[:, ::-1]))   # rows stored top first
    i = raw.find(b"strf")
    assert struct.unpack_from("<i", raw, i + 16)[0] == 5
    struct.pack_into("<i", raw, i + 16, -5)
    _, _, out = km.decode_avi(bytes(raw))
    np.testing.assert_array_equal(out, fr)


def test_avi_hostile_input_raises_value_error_with_bounded_allocation(hostile_contract):
    """A corrupt clip raises ValueError (never struct.error or
    MemoryError), and decoding allocates no more than the payload plus
    a small constant, whatever the headers declare.  Half the byte
    flips land in the first 256 bytes (RIFF/avih/strh/strf)."""
    frames = np.random.RandomState(5).randint(
        0, 256, (6, 9, 11, 3)).astype(np.uint8)
    hostile_contract(km.decode_avi, km.encode_avi(frames, rate=12),
                     seed=5, head=256, slack=16 * 1024)


def test_avi_frame_chunks_checked_before_allocation():
    fr = np.zeros((2, 4, 5, 3), dtype=np.uint8)
    raw = bytearray(km.encode_avi(fr))
    avih = raw.index(b"avih") + 8
    big = bytearray(raw)
    big[avih + 32:avih + 40] = (1 << 20).to_bytes(4, "little") * 2
    with pytest.raises(ValueError, match="frame 0 size"):
        km.decode_avi(bytes(big))
    with pytest.raises(ValueError, match="truncated AVI header"):
        km.decode_avi(bytes(raw[:raw.index(b"strh") + 12]))
    zero_rate = bytearray(raw)
    strh = raw.index(b"strh") + 8
    zero_rate[strh + 24:strh + 28] = bytes(4)       # dwRate
    with pytest.raises(ValueError, match="rate/scale"):
        km.decode_avi(bytes(zero_rate))
    nested = b"".join(b"LIST" + (12 * (2000 - i)).to_bytes(4, "little") + b"xxxx"
                      for i in range(2000))
    with pytest.raises(ValueError, match="nesting"):
        km.decode_avi(b"RIFF" + (4 + len(nested)).to_bytes(4, "little")
                      + b"AVI " + nested)
    # LISTs declared 12 bytes long: each inner 64-byte frame runs on
    # past its LIST, and the next LIST starts inside that frame's body
    unit = b"LIST" + (12).to_bytes(4, "little") + b"movi" + b"00db" + (64).to_bytes(4, "little")
    body = raw[12:raw.index(b"LIST", raw.index(b"strl") + 4)] + unit * 200 + bytes(64)
    with pytest.raises(ValueError, match="overlap"):
        km.decode_avi(b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"AVI " + body)
    cut = raw[:raw.index(b"idx1") - 10]   # inside the last frame's body
    cut[4:8] = (len(cut) - 8).to_bytes(4, "little")
    with pytest.raises(ValueError, match="past the payload end"):
        km.decode_avi(bytes(cut))
