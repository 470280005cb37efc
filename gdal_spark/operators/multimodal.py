"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata —
the Spark-side contract a 100 TB interleaved corpus needs: schema,
partitioning, Arrow batch shape, and UDF signatures are real and
tested.  Decode is REAL for every modality via the spec-written
stdlib codecs in kernels/media.py (WAV audio; BMP/PNG/baseline-JPEG
images; AVI video with per-frame sampling; MP4/ISO-BMFF metadata
box walk); only the codec sample payloads inside MP4 mdat (H.264/
AAC) are not decoded, since the engine carries no such codec.

``decode_media_real`` and ``frame_sample_real`` are ``mapInArrow``
maps over an (id, kind, payload) projection.  Each Arrow batch is
grouped by kind and handed to one batch kernel per kind
(``kernels.media.wav_batch`` / ``bmp_batch`` / ``png_batch`` /
``jpeg_batch`` / ``avi_frame_batch``).  A kernel parses and
entropy-decodes its payloads one by one, then runs the JPEG IDCT and
every feature reduction once per run of payloads (up to
``kernels.media._RUN_SAMPLES`` decoded samples, so a batch of large
payloads is worked through a run at a time and a payload of a run or
more alone), and returns numpy columns that become the output Arrow
batch: no per-row dicts, no pandas.  Features are bit-identical to the
per-payload ``kernels.media.*_features``.  The gain is the numpy
per-call cost saved on small payloads; a large payload decodes as it
would on its own.
"""

from __future__ import annotations

import functools
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

_MEDIA_FEATURES = (("rate", "int"), ("n_samples", "int"),
                   ("duration_ms", "int"), ("rms", "double"), ("peak", "int"),
                   ("width", "int"), ("height", "int"), ("mean_r", "double"),
                   ("mean_g", "double"), ("mean_b", "double"))


def decode_media_real(df: DataFrame, id_col: str = "doc_id",
                      kind_col: str = "kind",
                      payload_col: str = "payload") -> DataFrame:
    """REAL media decode for the stdlib-parsable formats: canonical
    PCM WAV, 24-bit uncompressed BMP, PNG (zlib + 5 filters) and
    baseline JPEG (spec-written T.81 codec) — kernels/media.py,
    struct + zlib + numpy, no external codec.  Other compressed
    formats (mp4/webp/...) are not decoded.

    One ``mapInArrow`` pass over the (id, kind, payload) projection.
    Each Arrow batch is grouped by kind and each group goes to one
    batch kernel (``kernels.media.<kind>_batch``), which parses its
    payloads one by one and decodes and reduces them a bounded run at
    a time; the kernels' numpy columns become the output batch
    directly, with no per-row dicts and no pandas.  Per-kind feature
    columns (0 where not applicable): rate, n_samples, duration_ms,
    rms, peak for audio; width, height, mean_r/g/b for images.  An unknown kind, or a
    payload its decoder rejects, raises ValueError and fails the job.
    """
    return df.select(F.col(id_col).cast("long").alias("doc_id"),
                     F.col(kind_col).alias("kind"),
                     F.col(payload_col).alias("payload")).mapInArrow(
        _decode_batches, "doc_id long, kind string, " + ", ".join(
            f"{c} {t}" for c, t in _MEDIA_FEATURES))


def _decode_batches(batches):
    import pyarrow as pa

    from ..kernels import media as km

    kernels = {"wav": km.wav_batch, "bmp": km.bmp_batch,
               "png": km.png_batch, "jpeg": km.jpeg_batch}
    for rb in batches:
        if rb.num_rows == 0:
            continue
        payloads = rb.column(2).to_pylist()
        by_kind: dict = {}
        for i, kind in enumerate(rb.column(1).to_pylist()):
            by_kind.setdefault(kind, []).append(i)
        cols = {c: np.zeros(rb.num_rows, dtype=np.int64 if t == "int"
                            else np.float64) for c, t in _MEDIA_FEATURES}
        for kind, idx in by_kind.items():
            if kind not in kernels:
                raise ValueError(f"no stdlib codec for kind={kind!r}")
            feats = kernels[kind]([payloads[i] for i in idx])
            for c, v in feats.items():
                cols[c][idx] = v
        yield pa.RecordBatch.from_arrays(
            [rb.column(0), rb.column(1)]
            + [pa.array(cols[c], pa.int32() if t == "int" else pa.float64())
               for c, t in _MEDIA_FEATURES],
            names=["doc_id", "kind"] + [c for c, _ in _MEDIA_FEATURES])


def synth_media_col_rows(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture builder: deterministic WAV (even ids) / BMP (odd ids)
    blobs from pure doc_id formulas, so the decode oracle can restate
    the features in SQL without touching bytes."""
    from ..kernels import media as km

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf[id_col]:
                did = int(did)
                if did % 2 == 0:
                    n = 64 + did % 64
                    i = np.arange(n, dtype=np.int64)
                    s = ((did * 31 + i * 17) % 2048) - 1024
                    rows.append({"doc_id": did, "kind": "wav",
                                 "payload": km.encode_wav(s, rate=8000)})
                else:
                    w, h = 8 + did % 8, 6 + did % 6
                    rr, cc, ch = np.mgrid[0:h, 0:w, 0:3]
                    a = ((did * 7 + rr * 13 + cc * 3 + ch * 11)
                         % 256).astype(np.uint8)
                    rows.append({"doc_id": did, "kind": "bmp",
                                 "payload": km.encode_bmp(a)})
            yield pd.DataFrame(rows)

    return df.select(id_col).mapInPandas(
        _mk, "doc_id long, kind string, payload binary")


def frame_sample_real(df: DataFrame, id_col: str = "doc_id",
                      payload_col: str = "payload",
                      stride: int = 2) -> DataFrame:
    """REAL video frame sampling: decode AVI container bytes
    (kernels/media.py — one RIFF chunk walk per payload), emit every
    ``stride``-th frame with its timestamp and per-frame channel
    means.  One ``mapInArrow`` pass: each Arrow batch goes to one
    ``kernels.media.avi_frame_batch`` call, which walks every payload's
    chunks and sums the sampled frames' DIB bytes a bounded run of
    payloads at a time, so the exchanged payload is read exactly once
    where it lands — the decode-where-the-bytes-are rule that keeps a
    100 TB video corpus off the driver."""
    if stride < 1:
        raise ValueError(f"frame stride {stride} < 1")
    return df.select(F.col(id_col).cast("long").alias("doc_id"),
                     F.col(payload_col).alias("payload")).mapInArrow(
        functools.partial(_sample_batches, stride=stride),
        "doc_id long, frame_idx int, ts_ms long, width int, height int, "
        "mean_r double, mean_g double, mean_b double")


def _sample_batches(batches, stride: int):
    import pyarrow as pa

    from ..kernels import media as km

    for rb in batches:
        if rb.num_rows == 0:
            continue
        f = km.avi_frame_batch(rb.column(1).to_pylist(), stride)
        yield pa.RecordBatch.from_arrays(
            [rb.column(0).take(f["row"]), pa.array(f["frame_idx"], pa.int32()),
             pa.array(f["ts_ms"]), pa.array(f["width"], pa.int32()),
             pa.array(f["height"], pa.int32()), pa.array(f["mean_r"]),
             pa.array(f["mean_g"]), pa.array(f["mean_b"])],
            names=["doc_id", "frame_idx", "ts_ms", "width", "height",
                   "mean_r", "mean_g", "mean_b"])


def synth_avi_col_rows(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture builder for the AVI decode path: deterministic
    uncompressed-DIB videos from pure doc_id formulas — frame count,
    dims, and frame rate all vary per doc; pixel(f,r,c,ch) =
    (doc_id*7 + f*19 + r*13 + c*3 + ch*11) % 256, so the oracle can
    restate per-sampled-frame features in SQL."""
    from ..kernels import media as km

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf[id_col]:
                did = int(did)
                nf = 4 + did % 9
                w, h = 6 + did % 8, 5 + did % 6
                ff, rr, cc, ch = np.mgrid[0:nf, 0:h, 0:w, 0:3]
                a = ((did * 7 + ff * 19 + rr * 13 + cc * 3 + ch * 11)
                     % 256).astype(np.uint8)
                rows.append({"doc_id": did, "kind": "avi",
                             "payload": km.encode_avi(
                                 a, rate=10 + did % 10)})
            yield pd.DataFrame(rows)

    return df.select(id_col).mapInPandas(
        _mk, "doc_id long, kind string, payload binary")


def mp4_meta(df: DataFrame, id_col: str = "doc_id",
             payload_col: str = "payload") -> DataFrame:
    """REAL ISO BMFF (MP4) metadata extraction: box walk over the
    container bytes (kernels/media.py::decode_mp4_meta — ftyp brand,
    mvhd duration, per-track tkhd dims / hdlr handler / stsz sample
    counts).  One Arrow pass; codec payloads inside mdat are NOT
    decoded (that needs an external codec)."""
    from ..kernels import media as km

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                m = km.decode_mp4_meta(bytes(payload))
                vid = next((tr for tr in m["tracks"]
                            if tr["handler"] == "vide"), None)
                aud = next((tr for tr in m["tracks"]
                            if tr["handler"] == "soun"), None)
                rows.append({
                    "doc_id": did, "brand": m["brand"],
                    "duration_ms": m["duration_ms"],
                    "n_tracks": m["n_tracks"],
                    "width": vid["width"] if vid else 0,
                    "height": vid["height"] if vid else 0,
                    "n_samples_v": vid["n_samples"] if vid else 0,
                    "n_samples_a": aud["n_samples"] if aud else 0,
                })
            yield pd.DataFrame(rows)

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _meta,
        "doc_id long, brand string, duration_ms long, n_tracks int, "
        "width int, height int, n_samples_v int, n_samples_a int")


def synth_mp4_col_rows(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture builder for the MP4 metadata path: minimal valid ISO
    BMFF files from pure doc_id formulas — brand, duration, video
    dims, and per-track sample counts all vary per doc; every 4th doc
    is audio-only (no vide track)."""
    from ..kernels import media as km

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf[id_col]:
                did = int(did)
                brand = b"mp42" if did % 2 == 0 else b"isom"
                tracks = []
                if did % 4 != 0:
                    tracks.append((b"vide", 320 + (did % 64) * 2,
                                   180 + (did % 36) * 2,
                                   24 * (1 + did % 5)))
                tracks.append((b"soun", 0, 0, 100 + did % 50))
                rows.append({"doc_id": did, "kind": "mp4",
                             "payload": km.encode_mp4_meta(
                                 tracks, timescale=600,
                                 duration=157 * (1 + did % 40),
                                 brand=brand)})
            yield pd.DataFrame(rows)

    return df.select(id_col).mapInPandas(
        _mk, "doc_id long, kind string, payload binary")


def synth_jpeg_col_rows(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture builder for the JPEG decode path: deterministic
    grayscale baseline JPEGs from pure doc_id formulas.  Pixels are
    CONSTANT within each aligned 8x8 block and the encoder writes unit
    quantization tables, so the lossy pipeline (DCT -> quantize ->
    Huffman -> dequantize -> IDCT) reproduces every pixel EXACTLY and
    the oracle can restate the features from the generating block
    formula in SQL.  Dims vary per doc (including non-multiples of 8,
    exercising MCU edge padding) and the restart interval cycles
    doc_id % 4 (0 = no DRI), exercising RSTn resync + predictor
    resets under the value-exact gate."""
    from ..kernels import media as km

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf[id_col]:
                did = int(did)
                w, h = 9 + did % 16, 9 + did % 12
                rr, cc = np.mgrid[0:h, 0:w]
                a = ((did * 7 + (rr // 8) * 13 + (cc // 8) * 3)
                     % 256).astype(np.uint8)
                rows.append({"doc_id": did, "kind": "jpeg",
                             "payload": km.encode_jpeg(
                                 a, restart_interval=did % 4)})
            yield pd.DataFrame(rows)

    return df.select(id_col).mapInPandas(
        _mk, "doc_id long, kind string, payload binary")


def synth_png_col_rows(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture builder for the PNG decode path: deterministic payloads
    from pure doc_id formulas, cycling gray / RGB / RGBA by doc_id % 3
    and the per-scanline filter by row % 5 (encode_png "cycle"), so
    decoding a batch exercises every color type AND all five PNG
    filter types; the oracle restates the features from the same
    formulas in SQL."""
    from ..kernels import media as km

    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf[id_col]:
                did = int(did)
                w, h = 5 + did % 8, 5 + did % 6
                k = did % 3
                if k == 0:                 # gray (color type 0)
                    rr, cc = np.mgrid[0:h, 0:w]
                    a = ((did * 7 + rr * 13 + cc * 3) % 256).astype(np.uint8)
                else:                      # RGB (2) / RGBA (6)
                    ch = 3 if k == 1 else 4
                    rr, cc, kk = np.mgrid[0:h, 0:w, 0:ch]
                    a = ((did * 7 + rr * 13 + cc * 3 + kk * 11)
                         % 256).astype(np.uint8)
                rows.append({"doc_id": did, "kind": "png",
                             "payload": km.encode_png(a, "cycle")})
            yield pd.DataFrame(rows)

    return df.select(id_col).mapInPandas(
        _mk, "doc_id long, kind string, payload binary")
