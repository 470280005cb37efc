"""Pure-stdlib media codecs: canonical PCM WAV and 24-bit
uncompressed BMP (both public byte layouts: RIFF/WAVE spec, Windows
BITMAPINFOHEADER spec).

These upgrade the multimodal pipeline from "honest stub" to REAL
decode for the formats a no-dependency container can parse — struct +
zlib + numpy only, no PIL/ffmpeg.  PNG (spec-written inflate+filter
pipeline), baseline JPEG (spec-written ITU-T T.81 codec) and AVI
video (RIFF container, uncompressed DIB frames) are real too — every
modality (audio/image/video) now has at least one fully decoded
format.  MP4/ISO-BMFF METADATA (box walk, below) is real too; only
the codec sample payloads inside mdat (H.264/AAC) remain behind the
stub (operators/multimodal.py), clearly flagged.

Encoders exist so fixtures can synthesize deterministic media from
formulas; the catalog oracle then re-derives the decoded features
straight from the generating formula in SQL — if the decoder mangled
a single byte, the features would not hash-match.

Reference parity: GDAL's own BMP driver reads the same layout —
BITMAPINFOHEADER fields incl. the positive-height bottom-up rule and
BGR component order (frmts/bmpdataset.cpp:115-129 header struct,
:378-394 24-bit component offsets, :282 scanline stride rounded to 4
bytes).  GDAL has no audio driver; WAV follows the public RIFF spec.

Features come from batch kernels (``wav_batch``, ``bmp_batch``,
``png_batch``, ``jpeg_batch``, ``avi_frame_batch``): each takes a list
of payloads of one kind and returns numpy feature columns.  Parsing,
Huffman decode and PNG inflate/unfilter run per payload; the JPEG
dequantise + IDCT and every feature reduction run once per run of
payloads holding up to ``_RUN_SAMPLES`` decoded samples, so memory
follows that constant, not the Arrow batch size.  A mean is an exact
integer sum divided by its count, which is bit-identical to numpy's
float ``mean()`` of the decoded array while the sum stays below
2**53.  The per-payload ``decode_*`` functions run the same parse,
Huffman and block phases on one payload, and the ``*_features``
functions take numpy means of what they decode.
"""

from __future__ import annotations

import struct
from array import array

import numpy as np


# ---- WAV (RIFF canonical PCM) --------------------------------------------
def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """int16 mono samples -> canonical 44-byte-header PCM WAV."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    n = len(data)
    hdr = b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
    hdr += b"data" + struct.pack("<I", n)
    return hdr + data


def decode_wav(payload: bytes):
    """Canonical PCM WAV -> (rate, int16 numpy samples)."""
    rate, data = _wav_parse(payload)
    return rate, np.frombuffer(data, dtype="<i2")


def _wav_parse(payload: bytes):
    """(rate, data chunk bytes) of a 16-bit mono PCM WAV.  Walks the
    RIFF chunk list (fmt / data may have extra chunks between)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, nch, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (sz,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError(f"fmt chunk of {len(body)} bytes")
            fmt, nch, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16])
            if fmt != 1:
                raise ValueError(f"non-PCM wav (fmt={fmt})")
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16 or nch != 1:
        raise ValueError(f"only 16-bit mono supported ({bits}b x{nch})")
    if rate == 0:
        raise ValueError("sample rate 0")
    if len(data) % 2:
        raise ValueError(f"odd-length 16-bit PCM data ({len(data)} bytes)")
    return rate, data


# ---- BMP (BITMAPINFOHEADER, 24-bit, uncompressed) -------------------------
def _dib_pack(rgb: np.ndarray) -> bytes:
    """HxWx3 RGB -> bottom-up BGR rows padded to 4 bytes — the DIB
    pixel block shared by BMP and per-frame AVI video."""
    h, w, _ = rgb.shape
    pad = (-(w * 3)) % 4
    body = bytearray()
    for r in range(h - 1, -1, -1):            # bottom-up rows
        body += rgb[r, :, ::-1].tobytes()     # BGR order
        body += b"\x00" * pad
    return bytes(body)


def _dib_rows(buf, off: int, w: int, h: int) -> np.ndarray:
    """The DIB pixel block at ``off`` in ``buf`` as an (h, w, 3) BGR
    view in stored row order, row padding sliced off."""
    stride = (w * 3 + 3) & ~3
    return (np.frombuffer(buf, dtype=np.uint8, count=stride * h, offset=off)
            .reshape(h, stride)[:, :w * 3].reshape(h, w, 3))


def _dib_unpack(buf, off: int, w: int, h: int,
                bottom_up: bool = True) -> np.ndarray:
    """DIB pixel block -> HxWx3 RGB."""
    a = _dib_rows(buf, off, w, h)
    if bottom_up:
        a = a[::-1]
    return a[:, :, ::-1].copy()               # BGR -> RGB


def encode_bmp(rgb: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB -> 24-bit bottom-up BMP with row padding."""
    h, w, _ = rgb.shape
    stride = (w * 3 + 3) & ~3
    data_sz = stride * h
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + data_sz, 0, 0, 14 + 40)
    hdr += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_sz,
                       2835, 2835, 0, 0)
    return hdr + _dib_pack(rgb)


def _bmp_parse(payload: bytes):
    """(pixel offset, width, height, bottom_up) of a 24-bit
    uncompressed BMP whose pixel block lies inside the payload."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 34:
        raise ValueError("truncated BMP header")
    (off,) = struct.unpack("<I", payload[10:14])
    hsz, w, h, _planes, bits, comp = struct.unpack(
        "<IiiHHI", payload[14:34])
    if bits != 24 or comp != 0:
        raise ValueError(f"only 24-bit uncompressed supported ({bits})")
    if w < 0:
        raise ValueError(f"negative BMP width {w}")
    if off + ((w * 3 + 3) & ~3) * abs(h) > len(payload):
        raise ValueError("BMP pixel data runs past the payload end")
    return off, w, abs(h), h > 0


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP -> HxWx3 uint8 RGB."""
    off, w, h, flip = _bmp_parse(payload)
    return _dib_unpack(payload, off, w, h, bottom_up=flip)


# ---- batch reductions -------------------------------------------------------
# Every feature mean is an integer sum over the decoded samples divided
# by their count.  numpy's float ``mean()`` adds the same integers in
# float64, exactly while every partial sum stays below 2**53, and then
# divides by the count, so the two agree bit for bit.  A uint8 channel
# reaches 2**53 only past 3.5e13 pixels, more than any payload Arrow
# can carry decodes to; squared int16 samples reach it past 2**23
# samples, so ``wav_batch`` falls back to the float mean there.
_EXACT_SUM = 1 << 53

# A batch kernel decodes and reduces its payloads in runs of at most
# this many decoded samples (audio samples, pixel bytes, JPEG
# coefficients), so its working set is one run's (about 12 MB for
# JPEG's int64 coefficients, float64 IDCT and colour planes), not the
# whole batch's.  A payload above it forms a run alone: the same
# phases over one payload, as ``decode_*`` runs them.  Batching pays
# while payloads are small next to a run (numpy's per-call cost is then
# most of a per-payload decode); a payload of a run or more gains
# nothing from it and loses nothing either.
_RUN_SAMPLES = 1 << 18


def _in_runs(kernel, items, size) -> dict:
    """``kernel`` (a list of items -> dict of numpy columns, one entry
    per item or per output row) over consecutive runs of ``items``
    whose ``size`` adds up to at most _RUN_SAMPLES, the columns
    concatenated.  ``items`` is consumed lazily, so only one run's
    parsed payloads are held at a time."""
    parts, run, total = [], [], 0
    for x in items:
        n = size(x)
        if run and total + n > _RUN_SAMPLES:
            parts.append(kernel(run))
            run, total = [], 0
        run.append(x)
        total += n
    if run or not parts:
        parts.append(kernel(run))
    if len(parts) == 1:
        return parts[0]
    return {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}


def _segment_reduce(ufunc, values: np.ndarray, counts) -> np.ndarray:
    """``ufunc`` over consecutive segments of ``values`` (axis 0) of
    the given lengths, in int64; an empty segment gives 0 (reduceat
    alone would return the next segment's first element)."""
    counts = np.asarray(counts, dtype=np.int64)
    starts = np.cumsum(counts) - counts
    full = counts > 0
    if full.all():
        return ufunc.reduceat(values, starts, axis=0, dtype=np.int64)
    out = np.zeros((len(counts),) + values.shape[1:], dtype=np.int64)
    if full.any():
        out[full] = ufunc.reduceat(values, starts[full], axis=0,
                                   dtype=np.int64)
    return out


def _segment_offsets(counts: np.ndarray) -> np.ndarray:
    """Each element's position inside its segment, for consecutive
    segments of the given lengths."""
    return np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts,
                                               counts)


def _image_columns(width, height, sums: np.ndarray) -> dict:
    """Feature columns of images from their (n, 3) R, G, B sums; a
    zero-pixel image has NaN means, as numpy's mean of nothing."""
    width = np.asarray(width, dtype=np.int64)
    height = np.asarray(height, dtype=np.int64)
    npix = (width * height)[:, None]
    means = np.divide(sums, npix, out=np.full(sums.shape, np.nan),
                      where=npix > 0)
    return {"width": width, "height": height, "mean_r": means[:, 0],
            "mean_g": means[:, 1], "mean_b": means[:, 2]}


def _dib_sums(blocks: list) -> np.ndarray:
    """(n, 3) int64 R, G, B sums of DIB pixel blocks, each given as
    (buffer, offset, width, height): the BGR rows read in place with
    their padding sliced off.  A sum depends on neither row order nor
    channel order beyond the final B, G, R -> R, G, B swap."""
    px = [_dib_rows(*b).reshape(-1, 3) for b in blocks]
    if not px:
        return np.zeros((0, 3), dtype=np.int64)
    return _segment_reduce(np.add, np.concatenate(px),
                           [len(p) for p in px])[:, ::-1]


def _wav_run(parsed: list) -> dict:
    rate = np.array([r for r, _ in parsed], dtype=np.int64)
    n = np.array([len(d) // 2 for _, d in parsed], dtype=np.int64)
    s = np.frombuffer(b"".join(d for _, d in parsed), dtype="<i2")
    sq = s.astype(np.int64)
    sq *= sq
    sumsq = _segment_reduce(np.add, sq, n)
    # int16 abs, like np.abs(s).max(): -32768 stays -32768
    peak = _segment_reduce(np.maximum, np.abs(s), n)
    rms = np.sqrt(np.divide(sumsq, n, out=np.zeros(len(n)), where=n > 0))
    for i in np.flatnonzero(sumsq >= _EXACT_SUM):
        x = np.frombuffer(parsed[i][1], dtype="<i2").astype(np.float64)
        rms[i] = np.sqrt((x * x).mean())
    return {"rate": rate, "n_samples": n, "duration_ms": n * 1000 // rate,
            "rms": rms, "peak": peak}


def wav_batch(payloads: list) -> dict:
    """Feature columns of WAV payloads: rate, n_samples, duration_ms,
    rms and peak (0 for a payload without samples)."""
    return _in_runs(_wav_run, map(_wav_parse, payloads),
                    lambda rd: len(rd[1]) // 2)


def _bmp_run(blocks: list) -> dict:
    return _image_columns([b[2] for b in blocks], [b[3] for b in blocks],
                          _dib_sums(blocks))


def bmp_batch(payloads: list) -> dict:
    """Feature columns (width, height, mean_r/g/b) of BMP payloads."""
    return _in_runs(_bmp_run, ((p,) + _bmp_parse(p)[:3] for p in payloads),
                    lambda b: 3 * b[2] * b[3])


def wav_features(payload: bytes) -> dict:
    rate, s = decode_wav(payload)
    x = s.astype(np.float64)
    return {
        "rate": int(rate),
        "n_samples": int(s.size),
        "duration_ms": int(s.size * 1000 // rate),
        "rms": float(np.sqrt((x * x).mean())) if s.size else 0.0,
        "peak": int(np.abs(s).max()) if s.size else 0,
    }


def _array_features(a: np.ndarray) -> dict:
    """Per-payload image features: numpy means of the decoded array
    (a gray image's one channel is all three, alpha is dropped)."""
    if a.ndim == 2:
        a = a[:, :, None].repeat(3, axis=2)
    return {
        "width": int(a.shape[1]),
        "height": int(a.shape[0]),
        "mean_r": float(a[:, :, 0].mean()),
        "mean_g": float(a[:, :, 1].mean()),
        "mean_b": float(a[:, :, 2].mean()),
    }


def bmp_features(payload: bytes) -> dict:
    return _array_features(decode_bmp(payload))


# ---- PNG (spec-written: zlib + the 5 scanline filters) --------------------
# PNG 1.2 spec (also ISO/IEC 15948): 8-byte signature, chunked layout
# (IHDR/IDAT/IEND, each len+type+data+crc32), IDAT is one zlib stream
# of H scanlines, each prefixed by a filter-type byte 0-4.  Reference
# parity: GDAL's PNG driver reads the same layout via libpng
# (frmts/png/pngdataset.cpp); here the codec is written straight from
# the public spec like the TIFF one (kernels/tiff.py) — 8-bit depth,
# color types 0 (gray), 2 (RGB), 6 (RGBA), no interlace.
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))


def _paeth(a, b, c):
    """PaethPredictor (PNG spec 9.4), vectorized over int16+ arrays."""
    p = a.astype(np.int16) + b - c
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(img: np.ndarray, filter_mode: str = "cycle") -> bytes:
    """uint8 image (H,W) gray / (H,W,3) RGB / (H,W,4) RGBA -> PNG.

    ``filter_mode="cycle"`` assigns scanline r the filter r % 5, so any
    image >= 5 rows tall exercises ALL five filter types — fixtures
    built with it prove every decoder unfilter path against the
    generating formula.  ``"none"`` writes filter 0 throughout."""
    import zlib
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        ctype, ch = 0, 1
        img = img[:, :, None]
    elif img.shape[2] == 3:
        ctype, ch = 2, 3
    elif img.shape[2] == 4:
        ctype, ch = 6, 4
    else:
        raise ValueError(f"unsupported channel count {img.shape[2]}")
    h, w, _ = img.shape
    raw = img.reshape(h, w * ch).astype(np.int16)
    prior = np.zeros(w * ch, dtype=np.int16)
    left = np.zeros(w * ch, dtype=np.int16)
    out = bytearray()
    for r in range(h):
        cur = raw[r]
        f = (r % 5) if filter_mode == "cycle" else 0
        left[:ch] = 0
        left[ch:] = cur[:-ch]
        pleft = np.zeros_like(prior)
        pleft[ch:] = prior[:-ch]
        if f == 0:
            filt = cur
        elif f == 1:                       # Sub
            filt = cur - left
        elif f == 2:                       # Up
            filt = cur - prior
        elif f == 3:                       # Average
            filt = cur - ((left + prior) >> 1)
        else:                              # Paeth
            filt = cur - _paeth(left.astype(np.uint8),
                                prior.astype(np.uint8),
                                pleft.astype(np.uint8))
        out.append(f)
        out += (filt & 0xFF).astype(np.uint8).tobytes()
        prior = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
            + _png_chunk(b"IEND", b""))


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> uint8 array (H,W) for gray, (H,W,ch) otherwise."""
    h, w, ch, out = _png_rows(payload)
    if ch == 1:
        return out.reshape(h, w)
    return out.reshape(h, w, ch)


def _png_rows(payload: bytes):
    """(height, width, channels, unfiltered (H, W*ch) uint8 rows) of
    a PNG.  All 5 filter types; Sub reconstructs as a per-lane cumsum,
    Up as one vector add, Average/Paeth byte by byte as Python ints
    over a bytearray (each byte depends on the one ``ch`` before it,
    and int arithmetic beats several numpy calls per pixel)."""
    import zlib
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos:pos + 4])
        ctag = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + ln]
        if ctag == b"IHDR":
            if len(body) != 13:
                raise ValueError(f"IHDR of {len(body)} bytes")
            w, h, depth, ctype, comp, filt, ilace = struct.unpack(
                ">IIBBBBB", body)
            if depth != 8 or ctype not in _PNG_CHANNELS:
                raise ValueError(
                    f"only 8-bit gray/RGB/RGBA supported "
                    f"(depth={depth}, color type={ctype})")
            if ilace != 0:
                raise ValueError("interlaced PNG not supported")
        elif ctag == b"IDAT":
            idat += body
        elif ctag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("missing IHDR")
    ch = _PNG_CHANNELS[ctype]
    stride = w * ch
    # Inflate at most one byte past the declared size, so a corrupt
    # or hostile stream allocates no more than the image it claims; a
    # claim deflate cannot meet (1032:1 is its ceiling) stops first.
    size = h * (stride + 1)
    if size > 1032 * len(idat):
        raise ValueError(f"IHDR {w}x{h} exceeds what {len(idat)} IDAT "
                         f"bytes can inflate to")
    inflate = zlib.decompressobj()
    try:
        raw = inflate.decompress(bytes(idat), size + 1)
    except zlib.error as e:
        raise ValueError(f"corrupt IDAT stream: {e}") from None
    if len(raw) != size or not inflate.eof:
        raise ValueError("IDAT size mismatch")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    ftypes, rows = raw[:, 0], raw[:, 1:]
    out = np.empty((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        f, cur = int(ftypes[r]), rows[r]
        if f == 0:
            rec = cur.copy()
        elif f == 1:                       # Sub: cumsum per byte lane
            rec = np.cumsum(cur.reshape(w, ch).astype(np.int64), axis=0)
            rec = (rec & 0xFF).astype(np.uint8).reshape(stride)
        elif f == 2:                       # Up
            rec = cur + prior
        elif f == 3:                       # Average
            rec = bytearray(cur.tobytes())
            pr = prior.tobytes()
            for i in range(min(ch, stride)):
                rec[i] = (rec[i] + (pr[i] >> 1)) & 0xFF
            for i in range(ch, stride):
                rec[i] = (rec[i] + ((rec[i - ch] + pr[i]) >> 1)) & 0xFF
            rec = np.frombuffer(rec, dtype=np.uint8)
        elif f == 4:                       # Paeth
            rec = bytearray(cur.tobytes())
            pr = prior.tobytes()
            for i in range(min(ch, stride)):  # left = upleft = 0: predicts up
                rec[i] = (rec[i] + pr[i]) & 0xFF
            for i in range(ch, stride):
                a, b, c = rec[i - ch], pr[i], pr[i - ch]
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - c - c)
                if pa <= pb and pa <= pc:
                    p = a
                elif pb <= pc:
                    p = b
                else:
                    p = c
                rec[i] = (rec[i] + p) & 0xFF
            rec = np.frombuffer(rec, dtype=np.uint8)
        else:
            raise ValueError(f"bad filter type {f}")
        out[r] = rec
        prior = out[r]
    return h, w, ch, out


def _png_run(rows: list) -> dict:
    sums = np.zeros((len(rows), 3), dtype=np.int64)
    for ch in _PNG_CHANNELS.values():
        idx = [i for i, r in enumerate(rows) if r[2] == ch]
        if not idx:
            continue
        px = np.concatenate([rows[i][3].reshape(-1) for i in idx])
        s = _segment_reduce(np.add, px.reshape(-1, ch),
                            [rows[i][0] * rows[i][1] for i in idx])
        sums[idx] = s[:, [0, 0, 0]] if ch == 1 else s[:, :3]
    return _image_columns([r[1] for r in rows], [r[0] for r in rows], sums)


def png_batch(payloads: list) -> dict:
    """Feature columns (width, height, mean_r/g/b) of PNG payloads; a
    gray image's one channel is all three, RGBA drops alpha."""
    return _in_runs(_png_run, map(_png_rows, payloads), lambda r: r[3].size)


def png_features(payload: bytes) -> dict:
    return _array_features(decode_png(payload))


# ---- JPEG (baseline sequential DCT, written from ITU-T T.81) --------------
# Full spec-written codec: SOI/APP0/DQT/SOF0/DHT/SOS/DRI/RSTn/EOI
# marker layout, canonical Huffman coding (T.81 Annex C code
# construction, Annex F entropy coding), zigzag + uniform quantization
# (Annex A), 2-D 8x8 DCT-II/III as an orthonormal matrix product, JFIF
# YCbCr <-> RGB with 4:4:4 and 4:2:0 chroma layouts.  Reference
# parity: GDAL's JPEG driver reads the same baseline streams via
# libjpeg (frmts/jpeg/jpgdataset.cpp); here the codec is written
# straight from the public spec like the TIFF (kernels/tiff.py) and
# PNG codecs above — stdlib struct + numpy only.
#
# Exact-fixture property used by the catalog oracle: with unit
# quantization tables (quality=None) an image that is CONSTANT within
# each aligned 8x8 block has only a DC coefficient per block
# (8*(v-128), an exact integer), so quantize -> entropy -> dequantize
# -> IDCT reproduces every pixel EXACTLY despite the pipeline being
# lossy in general.  Fixtures built that way prove the whole marker /
# Huffman / zigzag / DCT path bit-for-bit against a pure SQL formula.

_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)

# T.81 Annex K.1 luminance / K.2 chrominance quantization tables
# (row-major, natural order)
_QT_LUMA_K1 = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)
_QT_CHROMA_K2 = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64)

# T.81 Annex K.3 typical Huffman tables: (bits[1..16] counts, values).
# Encoder and decoder never assume these — the decoder always builds
# its tables from the stream's own DHT segments, so any valid baseline
# JPEG decodes regardless of what tables produced it.
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA])
_AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA])


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix T: S = T @ b @ T.T is the T.81
    Annex A.3.3 FDCT (and T.T @ S @ T the IDCT)."""
    x = np.arange(8, dtype=np.float64)
    u = x[:, None]
    t = 0.5 * np.cos((2.0 * x[None, :] + 1.0) * u * np.pi / 16.0)
    t[0, :] = 0.5 / np.sqrt(2.0)
    return t


_DCT_T = _dct_matrix()


def _idct_blocks(s: np.ndarray) -> np.ndarray:
    """(n, 8, 8) dequantized coefficients -> (n, 8, 8) level-shifted
    samples: T.T @ S @ T per block, as two batched matmuls."""
    return _DCT_T.T @ s @ _DCT_T + 128.0


def _huff_codes(bits, values):
    """T.81 Annex C canonical code assignment: (value -> (code, len))."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[values[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:            # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self):
        if self.nbits:
            self.put(0x7F, 8 - self.nbits)   # 1-fill per spec


def _quality_tables(quality):
    """quality=None -> unit tables (numerically lossless for
    block-constant fixtures); else the public IJG scaling of the
    Annex K tables (quality 1..100)."""
    if quality is None:
        one = np.ones(64, dtype=np.int64)
        return one, one
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    lum = np.clip((_QT_LUMA_K1 * scale + 50) // 100, 1, 255)
    chr_ = np.clip((_QT_CHROMA_K2 * scale + 50) // 100, 1, 255)
    return lum, chr_


def _csize(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _plane_blocks(plane: np.ndarray) -> np.ndarray:
    """uint8 plane -> (nby, nbx, 8, 8) float64 blocks, edge-replicated
    to multiples of 8."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    hh, ww = plane.shape
    return (plane.reshape(hh // 8, 8, ww // 8, 8)
            .transpose(0, 2, 1, 3).astype(np.float64))


def _fdct_quant(blocks: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """(n, 8, 8) spatial blocks -> (n, 64) zigzagged quantized coeffs.
    AC clamped to the T.81 8-bit-precision coefficient range."""
    s = np.einsum("ux,nxy,vy->nuv", _DCT_T, blocks - 128.0, _DCT_T)
    q = np.round(s.reshape(-1, 64) / qtab.astype(np.float64))
    q = np.clip(q, -2047, 2047)
    q[:, 1:] = np.clip(q[:, 1:], -1023, 1023)
    return q[:, _ZIGZAG].astype(np.int64)


def _encode_block(bw: _BitWriter, zz: np.ndarray, pred: int,
                  dc_tab: dict, ac_tab: dict) -> int:
    diff = int(zz[0]) - pred
    sz = _csize(diff)
    code, ln = dc_tab[sz]
    bw.put(code, ln)
    if sz:
        bw.put(diff if diff >= 0 else diff + (1 << sz) - 1, sz)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last_nz = (nz[-1] + 1) if len(nz) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]      # ZRL
            bw.put(code, ln)
            run -= 16
        sz = _csize(v)
        code, ln = ac_tab[(run << 4) | sz]
        bw.put(code, ln)
        bw.put(v if v >= 0 else v + (1 << sz) - 1, sz)
        run = 0
    if last_nz < 63:
        code, ln = ac_tab[0x00]          # EOB
        bw.put(code, ln)
    return int(zz[0])


def _rgb_to_ycbcr(img: np.ndarray):
    """JFIF full-range YCbCr, rounded + clamped to uint8 planes."""
    r = img[:, :, 0].astype(np.float64)
    g = img[:, :, 1].astype(np.float64)
    b = img[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    out = []
    for p in (y, cb, cr):
        out.append(np.clip(np.round(p), 0, 255).astype(np.uint8))
    return out


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray):
    yf = y.astype(np.float64)
    cbf = cb.astype(np.float64) - 128.0
    crf = cr.astype(np.float64) - 128.0
    r = yf + 1.402 * crf
    g = yf - 0.344136 * cbf - 0.714136 * crf
    b = yf + 1.772 * cbf
    return np.stack([np.clip(np.round(c), 0, 255).astype(np.uint8)
                     for c in (r, g, b)], axis=-1)


def _dht_segment(tclass: int, tid: int, bits, values) -> bytes:
    body = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(values)
    return b"\xFF\xC4" + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(img: np.ndarray, quality=None, subsampling: str = "444",
                restart_interval: int = 0) -> bytes:
    """uint8 (H,W) gray / (H,W,3) RGB -> baseline sequential JPEG.

    quality=None writes unit quantization tables (exact for aligned-
    block-constant fixtures); 1..100 uses the IJG scaling of the
    Annex K tables.  subsampling: "444" or "420" (ignored for gray).
    restart_interval > 0 writes DRI + RSTn markers every that many
    MCUs."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    qlum, qchr = _quality_tables(quality)
    qlum_z, qchr_z = qlum[_ZIGZAG], qchr[_ZIGZAG]
    h, w = img.shape[:2]
    if gray:
        planes = [img]
        samp = [(1, 1)]
        qsel = [0]
    else:
        y, cb, cr = _rgb_to_ycbcr(img)
        if subsampling == "420":
            # pad to even dims with edge replication, then 2x2 mean
            cbp = np.pad(cb, ((0, h % 2), (0, w % 2)), mode="edge")
            crp = np.pad(cr, ((0, h % 2), (0, w % 2)), mode="edge")
            hh, ww = cbp.shape
            def _down(p):
                p4 = p.reshape(hh // 2, 2, ww // 2, 2).astype(np.float64)
                return np.clip(np.round(p4.mean(axis=(1, 3))), 0,
                               255).astype(np.uint8)
            planes = [y, _down(cbp), _down(crp)]
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "444":
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
        qsel = [0, 1, 1]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    # per-component zigzag blocks, MCU-padded
    comp_zz = []
    comp_nbx = []
    for ci, p in enumerate(planes):
        sh, sv = samp[ci]
        # plane dims padded so the MCU grid is complete
        need_h = -p.shape[0] % (8 * sv)
        need_w = -p.shape[1] % (8 * sh)
        if need_h or need_w:
            p = np.pad(p, ((0, need_h), (0, need_w)), mode="edge")
        blocks = _plane_blocks(p)
        nby, nbx = blocks.shape[:2]
        zz = _fdct_quant(blocks.reshape(-1, 8, 8),
                         qlum if qsel[ci] == 0 else qchr)
        comp_zz.append(zz.reshape(nby, nbx, 64))
        comp_nbx.append((nby, nbx))
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    # entropy coding
    dc_l = _huff_codes(*_DC_LUMA)
    ac_l = _huff_codes(*_AC_LUMA)
    dc_c = _huff_codes(*_DC_CHROMA)
    ac_c = _huff_codes(*_AC_CHROMA)
    bw = _BitWriter()
    preds = [0] * len(planes)
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                bw.pad_to_byte()
                bw.buf += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                preds = [0] * len(planes)
            for ci in range(len(planes)):
                sh, sv = samp[ci]
                dct = dc_l if qsel[ci] == 0 else dc_c
                act = ac_l if qsel[ci] == 0 else ac_c
                for by in range(sv):
                    for bx in range(sh):
                        zz = comp_zz[ci][my * sv + by, mx * sh + bx]
                        preds[ci] = _encode_block(
                            bw, zz, preds[ci], dct, act)
            mcu_count += 1
    bw.pad_to_byte()
    # ---- markers ----
    out = bytearray(b"\xFF\xD8")                       # SOI
    out += (b"\xFF\xE0" + struct.pack(">H", 16) + b"JFIF\x00"
            + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1)
            + bytes([0, 0]))                           # APP0
    out += (b"\xFF\xDB" + struct.pack(">H", 67) + bytes([0x00])
            + bytes(qlum_z.astype(np.uint8)))          # DQT 0
    if not gray:
        out += (b"\xFF\xDB" + struct.pack(">H", 67) + bytes([0x01])
                + bytes(qchr_z.astype(np.uint8)))      # DQT 1
    nc = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1],
                      qsel[ci]])
    out += b"\xFF\xC0" + struct.pack(">H", len(sof) + 2) + sof  # SOF0
    out += _dht_segment(0, 0, *_DC_LUMA)
    out += _dht_segment(1, 0, *_AC_LUMA)
    if not gray:
        out += _dht_segment(0, 1, *_DC_CHROMA)
        out += _dht_segment(1, 1, *_AC_CHROMA)
    if restart_interval:
        out += b"\xFF\xDD" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([nc])
    for ci in range(nc):
        tid = 0 if qsel[ci] == 0 else 1
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += b"\xFF\xDA" + struct.pack(">H", len(sos) + 2) + sos  # SOS
    out += bw.buf
    out += b"\xFF\xD9"                                 # EOI
    return bytes(out)


_HUFF_LUT_CACHE: dict = {}
_HUFF_LUT_SIZE = 65536                    # one entry per 16-bit peek


def _huff_decode_table(bits, values):
    """Table-driven Huffman decode: the Annex C canonical codes,
    left-aligned into two 65536-byte LUTs (value, code length), so one
    16-bit peek resolves any code (max length 16) in O(1) instead of
    walking the tree bit by bit; length 0 marks a peek no code starts.
    Cached by table content — tiny fixtures would otherwise pay the
    64k build per image."""
    key = (bytes(bits), bytes(values))
    hit = _HUFF_LUT_CACHE.get(key)
    if hit is not None:
        return hit
    if len(_HUFF_LUT_CACHE) >= 64:
        # bound executor memory: wild corpora carry per-image
        # optimized tables (128 KB of LUT each) — evict FIFO
        _HUFF_LUT_CACHE.pop(next(iter(_HUFF_LUT_CACHE)))
    val = bytearray(_HUFF_LUT_SIZE)       # indexing yields plain ints
    lng = bytearray(_HUFF_LUT_SIZE)
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            # an over-subscribed table's extra codes fall off the end
            lo = min(code << (16 - ln), _HUFF_LUT_SIZE)
            hi = min(lo + (1 << (16 - ln)), _HUFF_LUT_SIZE)
            val[lo:hi] = bytes((values[k],)) * (hi - lo)
            lng[lo:hi] = bytes((ln,)) * (hi - lo)
            code += 1
            k += 1
        code <<= 1
    _HUFF_LUT_CACHE[key] = (val, lng)
    return val, lng


def _entropy_segments(payload: bytes, pos: int) -> list:
    """Split the scan's entropy-coded data at RSTn markers with byte
    stuffing removed — one linear pre-pass (bulk slice copies between
    0xFF sightings), so the per-symbol decoder never touches markers."""
    segs = []
    cur = bytearray()
    n = len(payload)
    while pos < n:
        b = payload[pos]
        if b != 0xFF:
            nxt = payload.find(b"\xff", pos)
            if nxt == -1:
                nxt = n
            cur += payload[pos:nxt]
            pos = nxt
            continue
        if pos + 1 == n:                  # lone 0xFF: truncated marker
            break
        m = payload[pos + 1]
        if m == 0x00:                     # stuffed data 0xFF
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:           # RSTn: segment boundary
            segs.append(bytes(cur))
            cur = bytearray()
            pos += 2
        elif m == 0xFF:                   # fill byte
            pos += 1
        else:                             # EOI / next marker: scan ends
            break
    segs.append(bytes(cur))
    return segs


class _JpegScan:
    """A parsed baseline JPEG: everything the Huffman, block and tile
    phases read.  Blocks are numbered in decode (MCU) order: per MCU,
    each scan component's sv x sh blocks in raster order."""
    __slots__ = ("h", "w", "mcus_x", "mcus_y", "layout", "order",
                 "qrows", "dri", "segs", "nblocks")

    # layout: per frame component (SOF order: Y, Cb, Cr), its first
    #   block's index inside an MCU and its sampling factors (sh, sv);
    # order: per scan component, (blocks per MCU, DC value LUT, DC
    #   length LUT, AC value LUT, AC length LUT);
    # qrows: per block of an MCU, its natural-order quantisation table.


def _jpeg_parse(payload: bytes) -> _JpegScan:
    """Marker walk — tables always taken from the stream's own
    DQT/DHT, never assumed — and every check a corrupt stream needs
    before anything is allocated: segment bounds, table and component
    references, sampling factors, and a block count the entropy-coded
    bytes can hold (each block costs at least 2 bits: a DC code and an
    EOB).  Raises ValueError only."""
    if payload[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG payload (missing SOI)")
    n = len(payload)
    pos = 2
    qtabs: dict[int, np.ndarray] = {}     # id -> natural-order int64[64]
    htabs: dict[tuple, tuple] = {}        # (class, id) -> decode LUTs
    frame = None
    dri = 0
    scan = None
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        while payload[pos + 1] == 0xFF:   # fill bytes
            pos += 1
            if pos + 1 >= n:
                raise ValueError("truncated JPEG")
        m = payload[pos + 1]
        pos += 2
        if m == 0xD9:                     # EOI
            break
        if pos + 2 > n:
            raise ValueError("truncated JPEG")
        ln = (payload[pos] << 8) | payload[pos + 1]
        nxt = pos + ln
        if ln < 2 or nxt > n:
            raise ValueError(f"bad marker FF{m:02X} segment length {ln}")
        body = payload[pos + 2:nxt]
        if m == 0xDB:                     # DQT (1+ tables per segment)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                size = 64 if pq == 0 else 128   # 8- / 16-bit entries
                if i + 1 + size > len(body):
                    raise ValueError("truncated DQT segment")
                nat = np.empty(64, dtype=np.int64)
                nat[_ZIGZAG] = np.frombuffer(      # DQT is in zigzag order
                    body, dtype=np.uint8 if pq == 0 else ">u2", count=64,
                    offset=i + 1)
                qtabs[tq] = nat
                i += 1 + size
        elif m == 0xC4:                   # DHT (1+ tables per segment)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = body[i + 1:i + 17]
                cnt = sum(bits)
                if len(bits) < 16 or i + 17 + cnt > len(body):
                    raise ValueError("truncated DHT segment")
                htabs[(tc, th)] = _huff_decode_table(
                    bits, body[i + 17:i + 17 + cnt])
                i += 17 + cnt
        elif m in (0xC0, 0xC1):           # SOF0 / SOF1 (both Huffman seq.)
            if len(body) < 6:
                raise ValueError("truncated SOF segment")
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError(f"only 8-bit precision (got {prec})")
            if len(body) < 6 + 3 * nc:
                raise ValueError("truncated SOF segment")
            frame = (h, w, [(body[6 + 3 * c], body[7 + 3 * c] >> 4,
                             body[7 + 3 * c] & 0x0F, body[8 + 3 * c])
                            for c in range(nc)])
        elif 0xC2 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
            raise ValueError(
                f"unsupported SOF FF{m:02X}: baseline sequential only")
        elif m == 0xDD:                   # DRI
            if len(body) < 2:
                raise ValueError("truncated DRI segment")
            dri = (body[0] << 8) | body[1]
        elif m == 0xDA:                   # SOS
            ns = body[0] if body else 0
            if len(body) < 1 + 2 * ns:
                raise ValueError("truncated SOS segment")
            scan = ([(body[1 + 2 * k], body[2 + 2 * k] >> 4,
                      body[2 + 2 * k] & 0x0F) for k in range(ns)], nxt)
            break
        # APPn / COM / anything else: skip
        pos = nxt
    if frame is None or scan is None:
        raise ValueError("missing SOF/SOS")
    h, w, comps = frame
    scomps, data_pos = scan
    if len(comps) == 1 and (comps[0][1] > 1 or comps[0][2] > 1):
        # a one-component scan is non-interleaved (T.81 A.2.3): one
        # block per MCU in raster order, not an h x v MCU of blocks
        raise ValueError(
            f"single-component JPEG with sampling "
            f"{comps[0][1]}x{comps[0][2]} not supported")
    if len(comps) not in (1, 3):
        raise ValueError(f"unsupported component count {len(comps)}")
    if len(scomps) != len(comps):
        # T.81 allows baseline images split into per-component scans;
        # this decoder handles the (ubiquitous) single interleaved
        # scan only — raise rather than return color-shifted pixels
        raise ValueError(
            f"multi-scan baseline JPEG not supported (scan has "
            f"{len(scomps)} of {len(comps)} components)")
    by_id = {c[0]: i for i, c in enumerate(comps)}
    if (len(by_id) != len(comps)
            or sorted(c[0] for c in scomps) != sorted(by_id)):
        raise ValueError("scan components do not match the frame's")
    for cid, sh, sv, tq in comps:
        if not (1 <= sh <= 4 and 1 <= sv <= 4):
            raise ValueError(f"component {cid} sampling {sh}x{sv} "
                             f"outside 1..4")
        if tq not in qtabs:
            raise ValueError(f"component {cid} uses undefined "
                             f"quantization table {tq}")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if any(hmax % c[1] or vmax % c[2] for c in comps):
        raise ValueError("fractional chroma sampling not supported")
    j = _JpegScan()
    offs = [0] * len(comps)
    j.order, j.qrows, bpm = [], [], 0
    for cs, td, ta in scomps:
        ci = by_id[cs]
        _, sh, sv, tq = comps[ci]
        if (0, td) not in htabs or (1, ta) not in htabs:
            raise ValueError(f"scan component {cs} uses an undefined "
                             f"Huffman table")
        offs[ci] = bpm
        bpm += sh * sv
        j.order.append((sh * sv,) + htabs[(0, td)] + htabs[(1, ta)])
        j.qrows += [qtabs[tq]] * (sh * sv)
    j.h, j.w, j.dri = h, w, dri
    j.layout = tuple((offs[i], c[1], c[2]) for i, c in enumerate(comps))
    j.mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    j.mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    j.nblocks = j.mcus_x * j.mcus_y * bpm
    j.segs = _entropy_segments(payload, data_pos)
    coded = sum(map(len, j.segs))
    if j.nblocks > 4 * coded:
        raise ValueError(f"{j.nblocks} blocks declared but only {coded} "
                         f"entropy-coded bytes")
    return j


def _jpeg_huffman(j: _JpegScan, out: array, base: int) -> None:
    """Annex F entropy decode of the whole scan into ``out`` (an
    int64 array, zero-filled) from ``base``: 64 zigzag coefficients
    per block, DC after prediction, RSTn restarts resetting the
    predictors.  The bit reader is inlined (MSB first over the
    unstuffed bytes, 1-filled past the end — the spec's pad rule — so
    a block whose final EOB abuts the segment end needs no bounds
    check); T.81 F.2.2.1 EXTEND is inlined too."""
    segs, dri, order = j.segs, j.dri, j.order
    data, si = segs[0], 0
    n, pos, acc, nbits = len(data), 0, 0, 0
    preds = [0] * len(order)
    b = base
    for m in range(j.mcus_x * j.mcus_y):
        if dri and m and m % dri == 0:
            si += 1
            if si >= len(segs):
                raise ValueError("missing RSTn restart segment")
            data = segs[si]
            n, pos, acc, nbits = len(data), 0, 0, 0
            preds = [0] * len(order)
        for ci, (nblk, dcv, dcl, acv, acl) in enumerate(order):
            for _ in range(nblk):
                while nbits < 16:
                    acc = ((acc << 8) | (data[pos] if pos < n else 0xFF)) \
                        & 0xFFFFFF
                    pos += 1
                    nbits += 8
                v = (acc >> (nbits - 16)) & 0xFFFF
                ln = dcl[v]
                if not ln:
                    raise ValueError(
                        "invalid Huffman code in JPEG entropy stream")
                nbits -= ln
                s = dcv[v]
                if s:
                    if s > 11:
                        raise ValueError(f"DC difference category {s} > 11")
                    while nbits < 16:
                        acc = ((acc << 8) | (data[pos] if pos < n
                                             else 0xFF)) & 0xFFFFFF
                        pos += 1
                        nbits += 8
                    nbits -= s
                    d = (acc >> nbits) & ((1 << s) - 1)
                    if d < 1 << (s - 1):
                        d -= (1 << s) - 1
                    preds[ci] += d
                out[b] = preds[ci]
                k = 1
                while k < 64:
                    while nbits < 16:
                        acc = ((acc << 8) | (data[pos] if pos < n
                                             else 0xFF)) & 0xFFFFFF
                        pos += 1
                        nbits += 8
                    v = (acc >> (nbits - 16)) & 0xFFFF
                    ln = acl[v]
                    if not ln:
                        raise ValueError(
                            "invalid Huffman code in JPEG entropy stream")
                    nbits -= ln
                    rs = acv[v]
                    s = rs & 0x0F
                    if not s:
                        if rs == 0xF0:    # ZRL: 16 zeros
                            k += 16
                            continue
                        break             # EOB
                    k += rs >> 4
                    if k > 63:
                        raise ValueError("AC run overflows block")
                    while nbits < 16:
                        acc = ((acc << 8) | (data[pos] if pos < n
                                             else 0xFF)) & 0xFFFFFF
                        pos += 1
                        nbits += 8
                    nbits -= s
                    d = (acc >> nbits) & ((1 << s) - 1)
                    if d < 1 << (s - 1):
                        d -= (1 << s) - 1
                    out[b + k] = d
                    k += 1
                b += 64


_UNZIGZAG = np.argsort(_ZIGZAG)


def _jpeg_blocks(zz: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(n, 64) zigzag coefficients and their (n, 64) natural-order
    quantisation rows -> (n, 8, 8) uint8 samples: dequantise, inverse
    zigzag, IDCT, round and clip, over all n blocks at once."""
    s = (zz[:, _UNZIGZAG] * q).astype(np.float64).reshape(-1, 8, 8)
    return np.clip(np.round(_idct_blocks(s)), 0, 255).astype(np.uint8)


def _jpeg_tiles(layout: tuple, pix: np.ndarray) -> np.ndarray:
    """Blocks in MCU order -> one (8*vmax, 8*hmax) tile per MCU, gray
    or (..., 3) RGB: each component's blocks placed in its MCU, chroma
    upsampled by sample replication, JFIF YCbCr -> RGB."""
    hmax = max(sh for _, sh, _ in layout)
    vmax = max(sv for _, _, sv in layout)
    t = pix.reshape(-1, sum(sh * sv for _, sh, sv in layout), 8, 8)
    planes = []
    for off, sh, sv in layout:
        p = (t[:, off:off + sh * sv].reshape(-1, sv, sh, 8, 8)
             .transpose(0, 1, 3, 2, 4).reshape(-1, 8 * sv, 8 * sh))
        if sh < hmax or sv < vmax:
            p = p.repeat(vmax // sv, axis=1).repeat(hmax // sh, axis=2)
        planes.append(p)
    return planes[0] if len(planes) == 1 else _ycbcr_to_rgb(*planes)


def _jpeg_coefficients(scans: list) -> tuple:
    """Huffman-decode every scan into one int64 coefficient array:
    (n_blocks, 64) zigzag coefficients and their (n_blocks, 64)
    quantisation rows, scans in the given order."""
    nb = np.array([j.nblocks for j in scans], dtype=np.int64)
    coeff = array("q", [0]) * (64 * int(nb.sum()))
    base = 0
    for j in scans:
        _jpeg_huffman(j, coeff, base)
        base += 64 * j.nblocks
    # block i of a scan uses row i % blocks-per-MCU of its qrows
    bpm = np.array([len(j.qrows) for j in scans], dtype=np.int64)
    row = (np.repeat(np.cumsum(bpm) - bpm, nb)
           + _segment_offsets(nb) % np.repeat(bpm, nb))
    q = np.array([t for j in scans for t in j.qrows])[row]
    return np.frombuffer(coeff, dtype=np.int64).reshape(-1, 64), q


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline sequential JPEG -> uint8 (H,W) gray / (H,W,3) RGB.

    Written from ITU-T T.81: marker parse, Annex F Huffman + DIFF
    decoding, RSTn restart handling, dequantize, inverse zigzag, 8x8
    IDCT (orthonormal matrix product), chroma upsampling by sample
    replication, JFIF YCbCr->RGB — the same phases ``jpeg_batch``
    runs over many payloads.
    """
    j = _jpeg_parse(payload)
    tiles = _jpeg_tiles(j.layout, _jpeg_blocks(*_jpeg_coefficients([j])))
    th, tw = tiles.shape[1:3]
    img = (tiles.reshape((j.mcus_y, j.mcus_x) + tiles.shape[1:])
           .swapaxes(1, 2)
           .reshape((j.mcus_y * th, j.mcus_x * tw) + tiles.shape[3:]))
    return img[:j.h, :j.w]


def _tile_sums(tiles: np.ndarray, scans: list) -> np.ndarray:
    """Per-image sums of consecutive MCU tiles over each image's crop:
    a 2-D prefix sum per tile, read at the tile's last row and column
    inside the image, then added up per image."""
    th, tw = tiles.shape[1:3]
    nm = np.array([j.mcus_x * j.mcus_y for j in scans], dtype=np.int64)
    per_mcu = np.repeat([[j.mcus_x, j.h, j.w] for j in scans], nm, axis=0)
    m = _segment_offsets(nm)
    rows = np.minimum(th, per_mcu[:, 1] - m // per_mcu[:, 0] * th)
    cols = np.minimum(tw, per_mcu[:, 2] - m % per_mcu[:, 0] * tw)
    cum = tiles.cumsum(1, dtype=np.int64).cumsum(2)
    return _segment_reduce(np.add, cum[np.arange(len(tiles)), rows - 1,
                                       cols - 1], nm)


def _jpeg_run(scans: list) -> dict:
    """Feature columns of parsed scans: per MCU layout (gray, 4:4:4,
    4:2:0 ...), one Huffman pass per scan into one coefficient array,
    then one dequantise + IDCT, one tile build and one crop sum over
    every block of the layout."""
    groups: dict[tuple, list] = {}
    for i, j in enumerate(scans):
        groups.setdefault(j.layout, []).append(i)
    sums = np.zeros((len(scans), 3), dtype=np.int64)
    for layout, idx in groups.items():
        grp = [scans[i] for i in idx]
        pix = _jpeg_blocks(*_jpeg_coefficients(grp))
        s = _tile_sums(_jpeg_tiles(layout, pix), grp)
        sums[idx] = s[:, None] if s.ndim == 1 else s
    return _image_columns([j.w for j in scans], [j.h for j in scans], sums)


def jpeg_batch(payloads: list) -> dict:
    """Feature columns (width, height, mean_r/g/b) of baseline JPEG
    payloads, parsed one by one and decoded and reduced a run of
    blocks at a time."""
    return _in_runs(_jpeg_run, map(_jpeg_parse, payloads),
                    lambda j: 64 * j.nblocks)


def jpeg_features(payload: bytes) -> dict:
    return _array_features(decode_jpeg(payload))


# ---- AVI (RIFF 'AVI ', uncompressed DIB video frames) ----------------------
# Spec-written from the public RIFF/AVI layout (Microsoft "AVI RIFF
# File Reference"): LIST hdrl (avih MainAVIHeader + LIST strl with
# strh/strf), LIST movi with one '00db' DIB chunk per frame (the same
# bottom-up BGR row-padded pixel layout as BMP above), and an idx1
# old-style index.  This makes VIDEO a real decoded modality — frame
# extraction reads actual container bytes instead of a doc_id formula.
# GDAL has no video driver; parity anchor is the frmts/bmp DIB pixel
# layout (frmts/bmpdataset.cpp:378-394) reused per frame.

def encode_avi(frames: np.ndarray, rate: int = 10, scale: int = 1) -> bytes:
    """(N,H,W,3) uint8 RGB frames -> uncompressed 24-bit DIB AVI.

    fps = rate/scale.  Every frame is a keyframe ('00db', BI_RGB).
    """
    n, h, w, _ = frames.shape
    pad = (-(w * 3)) % 4
    frame_sz = (w * 3 + pad) * h
    usec = int(round(1_000_000 * scale / rate))
    avih = struct.pack("<IIIIIIIIII4I", usec, frame_sz * rate // scale,
                       0, 0x10, n, 0, 1, frame_sz, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB " +
            struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, scale, rate, 0, n,
                        frame_sz, 0, 0) +
            struct.pack("<4h", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_sz,
                       0, 0, 0, 0)

    def chunk(tag: bytes, body: bytes) -> bytes:
        out = tag + struct.pack("<I", len(body)) + body
        if len(body) % 2:
            out += b"\x00"
        return out

    def lst(tag: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", tag + body)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi_body = bytearray(b"movi")
    idx = bytearray()
    for fi in range(n):
        # old-style index offsets are relative to the 'movi' fourcc
        idx += b"00db" + struct.pack("<III", 0x10,
                                     len(movi_body), frame_sz)
        movi_body += chunk(b"00db", _dib_pack(frames[fi]))
    movi = chunk(b"LIST", bytes(movi_body))
    idx1 = chunk(b"idx1", bytes(idx))
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi(payload: bytes):
    """Uncompressed DIB AVI -> (rate, scale, frames (N,H,W,3) RGB)."""
    rate, scale, w, h, bottom_up, frames = _avi_parse(payload)
    out = np.empty((len(frames), h, w, 3), dtype=np.uint8)
    for fi, off in enumerate(frames):
        out[fi] = _dib_unpack(payload, off, w, h, bottom_up=bottom_up)
    return rate, scale, out


def _avi_parse(payload: bytes):
    """(rate, scale, width, height, bottom_up, frame data offsets) of
    an uncompressed DIB AVI.

    RIFF chunk walk tolerant of unknown chunks (same approach as the
    WAV reader); only biCompression == 0 (BI_RGB) 24-bit streams are
    supported — anything else raises.  Hostile input raises
    ``ValueError`` only, and every frame chunk's length and bounds are
    checked here, before any frame is read, so allocation is bounded
    by the payload length."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    w = h = None
    rate = scale = None
    bottom_up = True                      # DIB rule: biHeight < 0 is top-down
    n_declared = 0
    frames = []
    cur_fcc = None                        # stream type of the last strh

    def walk(pos: int, end: int, depth: int):
        nonlocal w, h, rate, scale, bottom_up, n_declared, cur_fcc
        if depth > 8:
            raise ValueError("AVI LIST nesting deeper than 8")
        while pos + 8 <= end:
            tag = payload[pos:pos + 4]
            (ln,) = struct.unpack("<I", payload[pos + 4:pos + 8])
            body_start = pos + 8
            if tag == b"LIST":
                walk(body_start + 4, body_start + ln, depth + 1)
            elif tag == b"avih":
                flds = struct.unpack("<10I", payload[body_start:
                                                     body_start + 40])
                n_declared, w, h = flds[4], flds[8], flds[9]
            elif tag == b"strh":
                cur_fcc = bytes(payload[body_start:body_start + 4])
                if cur_fcc == b"vids":
                    flds = struct.unpack_from(
                        "<IHHIII", payload, body_start + 8)
                    scale, rate = flds[4], flds[5]
            elif tag == b"strf" and cur_fcc == b"vids":
                # only the VIDEO stream's format block is a
                # BITMAPINFOHEADER — an audio strf (WAVEFORMATEX)
                # must not be validated against it
                bi_h, _planes, bits, comp = struct.unpack(
                    "<iHHI", payload[body_start + 8:body_start + 20])
                bottom_up = bi_h > 0
                if bits != 24 or comp != 0:
                    raise ValueError(
                        f"only 24-bit BI_RGB DIB video supported "
                        f"(bits={bits}, compression={comp})")
            elif tag in (b"00db", b"00dc"):
                frames.append((body_start, ln))
            pos = body_start + ln + (ln % 2)

    try:
        walk(12, 8 + struct.unpack("<I", payload[4:8])[0], 0)
    except struct.error as e:
        raise ValueError(f"truncated AVI header: {e}") from None
    if w is None or not frames:
        raise ValueError("missing avih header or frame chunks")
    if rate is None or scale is None:
        raise ValueError("no 'vids' stream header (strh) found")
    if rate == 0 or scale == 0:
        raise ValueError(f"AVI stream rate/scale {rate}/{scale}")
    stride = (w * 3 + 3) & ~3
    for fi, (off, ln) in enumerate(frames):
        if ln != stride * h:
            raise ValueError(f"frame {fi} size {ln} != {stride * h}")
        if off + ln > len(payload):
            raise ValueError(f"frame {fi} runs past the payload end")
    if len(frames) * stride * h > len(payload):
        raise ValueError("frame chunks overlap")
    return int(rate), int(scale), w, h, bottom_up, [off for off, _ in frames]


def _avi_run(items: list, stride: int) -> dict:
    k = np.array([len(range(0, len(a[5]), stride)) for _, _, a in items],
                 dtype=np.int64)
    rate, scale, w, h = (np.repeat(np.array([a[c] for _, _, a in items],
                                            dtype=np.int64), k)
                         for c in range(4))
    fidx = _segment_offsets(k) * stride
    cols = _image_columns(w, h, _dib_sums(
        [(p, off, a[2], a[3]) for _, p, a in items for off in a[5][::stride]]))
    cols.update(row=np.repeat(np.array([i for i, _, _ in items],
                                       dtype=np.int64), k),
                frame_idx=fidx, ts_ms=fidx * (1000 * scale) // rate)
    return cols


def avi_frame_batch(payloads: list, stride: int) -> dict:
    """Every ``stride``-th frame of each AVI payload: ``row`` (the
    payload's index in the list), frame_idx, ts_ms, width, height and
    the frame's mean_r/g/b, with the channel sums read straight from
    the sampled frames' DIB bytes."""
    return _in_runs(
        lambda items: _avi_run(items, stride),
        ((i, p, _avi_parse(p)) for i, p in enumerate(payloads)),
        lambda x: len(range(0, len(x[2][5]), stride)) * 3 * x[2][2] * x[2][3])


# ---- MP4 / ISO BMFF (metadata box walk; sample DECODE stays stubbed) ------
# Spec-written from the public ISO/IEC 14496-12 box layout: size+type
# box stream, ftyp major brand, moov/mvhd (timescale+duration, v0/v1),
# trak/tkhd (track id, 16.16 fixed-point width/height), mdia/hdlr
# (handler fourcc), stbl/stsz (sample count).  This makes MP4
# METADATA a real decoded surface; the codec payloads inside mdat
# (H.264/AAC) genuinely require external codecs and stay behind the
# clearly-marked stub in operators/multimodal.py.

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def encode_mp4_meta(tracks, timescale: int = 1000,
                    duration: int = 0, brand: bytes = b"isom") -> bytes:
    """Minimal valid ISO BMFF: ftyp + moov (mvhd + one trak per entry)
    + empty mdat.  tracks = [(handler4cc, width, height, n_samples)];
    width/height 0 for non-visual tracks.  Fixture writer only — real
    MP4s from the wild parse through decode_mp4_meta the same way."""
    def box(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + tag + body

    ftyp = box(b"ftyp", brand + struct.pack(">I", 0) + brand)
    mvhd = box(b"mvhd", struct.pack(">B3x", 0)
               + struct.pack(">IIIII", 0, 0, timescale, duration, 0x10000)
               # volume+reserved (12) + matrix (36) + pre_defined (24)
               # + next_track_ID (4) = 76 -> v0 body is exactly 100
               + b"\x00" * 76)
    moov_body = mvhd
    for ti, (handler, w, h, n_samples) in enumerate(tracks):
        tkhd = box(b"tkhd", struct.pack(">B3x", 0)
                   + struct.pack(">IIIII", 0, 0, ti + 1, 0, duration)
                   + b"\x00" * 52
                   + struct.pack(">II", w << 16, h << 16))
        # constant sample_size (14496-12 8.7.3.2: non-zero means all
        # samples share it and the per-sample table is absent) keeps
        # the box structurally valid without a fixture entry table
        stsz = box(b"stsz", struct.pack(">B3xII", 0, 128, n_samples))
        stbl = box(b"stbl", stsz)
        minf = box(b"minf", stbl)
        hdlr = box(b"hdlr", struct.pack(">B3xI", 0, 0) + handler
                   + b"\x00" * 12 + b"\x00")
        mdia = box(b"mdia", hdlr + minf)
        moov_body += box(b"trak", tkhd + mdia)
    return ftyp + box(b"moov", moov_body) + box(b"mdat", b"")


def decode_mp4_meta(payload: bytes) -> dict:
    """ISO BMFF metadata: brand, movie duration (ms), per-track
    handler/dims/sample counts.  Box walk only — no sample decode."""
    brand = None
    timescale = duration = None
    tracks = []
    cur: dict | None = None

    def walk(pos: int, end: int, depth: int):
        nonlocal brand, timescale, duration, cur
        while pos + 8 <= end:
            (sz,) = struct.unpack(">I", payload[pos:pos + 4])
            tag = payload[pos + 4:pos + 8]
            body = pos + 8
            if sz == 1:                   # 64-bit largesize
                (sz,) = struct.unpack(">Q", payload[pos + 8:pos + 16])
                body = pos + 16
            elif sz == 0:                 # to end of file
                sz = end - pos
            if sz < 8 or pos + sz > end:
                raise ValueError(f"bad box size {sz} at {pos}")
            if tag == b"ftyp":
                brand = payload[body:body + 4].decode("latin-1")
            elif tag == b"mvhd":
                ver = payload[body]
                if ver == 1:
                    timescale, duration = struct.unpack(
                        ">IQ", payload[body + 20:body + 32])
                else:
                    timescale, duration = struct.unpack(
                        ">II", payload[body + 12:body + 20])
            elif tag == b"trak":
                cur = {"track_id": None, "handler": None, "width": 0,
                       "height": 0, "n_samples": 0}
                walk(body, pos + sz, depth + 1)
                tracks.append(cur)
                cur = None
                pos += sz
                continue
            elif tag == b"tkhd" and cur is not None:
                ver = payload[body]
                off = body + (12 if ver == 0 else 20)
                (cur["track_id"],) = struct.unpack(
                    ">I", payload[off:off + 4])
                wh = payload[pos + sz - 8:pos + sz]
                w16, h16 = struct.unpack(">II", wh)
                cur["width"], cur["height"] = w16 >> 16, h16 >> 16
            elif tag == b"hdlr" and cur is not None:
                cur["handler"] = payload[body + 8:body + 12].decode(
                    "latin-1")
            elif tag == b"stsz" and cur is not None:
                fixed, cnt = struct.unpack(
                    ">II", payload[body + 4:body + 12])
                cur["n_samples"] = cnt
            elif tag in _MP4_CONTAINERS:
                walk(body, pos + sz, depth + 1)
            pos += sz

    try:
        walk(0, len(payload), 0)
    except (struct.error, IndexError) as exc:   # a box body cut short
        raise ValueError(f"truncated ISO BMFF box: {exc}") from None
    if brand is None or timescale is None:
        raise ValueError("not an ISO BMFF payload (missing ftyp/mvhd)")
    return {
        "brand": brand,
        "duration_ms": int(duration * 1000 // timescale) if timescale
        else 0,
        "n_tracks": len(tracks),
        "tracks": tracks,
    }
