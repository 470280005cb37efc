"""ISO BMFF (MP4) metadata box walk (kernels/media.py).

Metadata is REAL (spec-written ISO/IEC 14496-12 box layout: ftyp,
moov/mvhd, trak/tkhd fixed-point dims, mdia/hdlr, stbl/stsz); codec
sample decode inside mdat stays behind the clearly-marked stub.
"""

import struct

import numpy as np  # noqa: F401  (style parity with sibling tests)
import pytest

from gdal_spark.kernels import media as km


def test_mp4_meta_roundtrip():
    raw = km.encode_mp4_meta(
        [(b"vide", 640, 360, 90), (b"soun", 0, 0, 431)],
        timescale=600, duration=1800, brand=b"mp42")
    m = km.decode_mp4_meta(raw)
    assert m["brand"] == "mp42"
    assert m["duration_ms"] == 1800 * 1000 // 600
    assert m["n_tracks"] == 2
    v, a = m["tracks"]
    assert v["handler"] == "vide" and (v["width"], v["height"]) == (640, 360)
    assert v["n_samples"] == 90 and v["track_id"] == 1
    assert a["handler"] == "soun" and a["n_samples"] == 431


def test_mp4_meta_v1_mvhd_and_largesize():
    # hand-build a v1 mvhd (64-bit duration) and a largesize mdat
    def box(tag, body):
        return struct.pack(">I", len(body) + 8) + tag + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    mvhd = box(b"mvhd", struct.pack(">B3x", 1)
               + struct.pack(">QQIQ", 0, 0, 1000, 2_500)
               + b"\x00" * 76)
    moov = box(b"moov", mvhd)
    mdat_body = b"x" * 4
    mdat = (struct.pack(">I", 1) + b"mdat"
            + struct.pack(">Q", 16 + len(mdat_body)) + mdat_body)
    m = km.decode_mp4_meta(ftyp + moov + mdat)
    assert m["duration_ms"] == 2500 and m["n_tracks"] == 0


def test_mp4_meta_rejects_non_bmff():
    with pytest.raises(ValueError):
        km.decode_mp4_meta(b"RIFF\x10\x00\x00\x00WAVEfmt ")
    with pytest.raises(ValueError, match="missing ftyp"):
        # valid box stream but no ftyp/mvhd
        km.decode_mp4_meta(struct.pack(">I", 8) + b"free")


def test_mp4_meta_distributed(spark):
    from gdal_spark.operators import multimodal as mm

    docs = spark.range(0, 16).withColumnRenamed("id", "doc_id")
    rows = {r["doc_id"]: r
            for r in mm.mp4_meta(mm.synth_mp4_col_rows(docs)).collect()}
    assert len(rows) == 16
    for did in range(16):
        r = rows[did]
        assert r["brand"] == ("mp42" if did % 2 == 0 else "isom")
        assert r["duration_ms"] == 157 * (1 + did % 40) * 1000 // 600
        if did % 4 == 0:
            assert r["n_tracks"] == 1 and r["width"] == 0
            assert r["n_samples_v"] == 0
        else:
            assert r["n_tracks"] == 2
            assert r["width"] == 320 + (did % 64) * 2
            assert r["height"] == 180 + (did % 36) * 2
            assert r["n_samples_v"] == 24 * (1 + did % 5)
        assert r["n_samples_a"] == 100 + did % 50


def test_mp4_boxes_structurally_valid_sizes():
    # mvhd v0 body must be exactly 100 bytes and stsz must carry a
    # non-zero constant sample_size so the absent per-sample table is
    # legal (review finding).
    import struct
    raw = km.encode_mp4_meta([(b"vide", 32, 16, 7)], timescale=600,
                             duration=1200)
    i = raw.find(b"mvhd")
    (sz,) = struct.unpack(">I", raw[i - 4:i])
    assert sz - 8 == 100
    j = raw.find(b"stsz")
    fixed, cnt = struct.unpack(">II", raw[j + 8:j + 16])
    assert fixed != 0 and cnt == 7


def test_mp4_short_boxes_raise_value_error():
    def box(tag, body):
        return struct.pack(">I", len(body) + 8) + tag + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    for tail in (box(b"mvhd", b""), box(b"mvhd", b"\x00" * 5),
                 box(b"moov", box(b"trak", box(b"tkhd", b"")))):
        with pytest.raises(ValueError, match="truncated"):
            km.decode_mp4_meta(ftyp + tail)


def test_mp4_hostile_input_raises_value_error_with_bounded_allocation(
        hostile_contract):
    raw = km.encode_mp4_meta(
        [(b"vide", 640, 360, 90), (b"soun", 0, 0, 431)],
        timescale=600, duration=1800, brand=b"mp42")
    hostile_contract(km.decode_mp4_meta, raw, seed=7, head=64, slack=16 * 1024)
