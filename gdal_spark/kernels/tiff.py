"""Minimal baseline GeoTIFF codec (stdlib struct + numpy).

Covers the reference GTiff driver's baseline uncompressed subset
(/root/reference/frmts/gtiff/ — the engine's raster interchange role;
container has no libtiff/GDAL, so the codec is written from the TIFF
6.0 + OGC GeoTIFF 1.1 specs):

* classic (non-Big) TIFF, strip-organized, Compression=1 (none),
  single band (SamplesPerPixel=1), PlanarConfiguration irrelevant;
* dtypes uint8/uint16/uint32/int16/int32/float32/float64 via
  BitsPerSample + SampleFormat;
* georeferencing: ModelPixelScaleTag(33550) + ModelTiepointTag(33922)
  -> the north-up affine geotransform (x0, dx, 0, y0, 0, -dy), and a
  GeoKeyDirectoryTag(34735) carrying the EPSG code (GeographicTypeGeoKey
  2048 for 4326, ProjectedCSTypeGeoKey 3072 otherwise);
* GDAL's nodata convention: ASCII tag 42113 (GDAL_NODATA).

The writer emits little-endian; the reader accepts both byte orders
(a byte-swapped file is real-world TIFF).  Tiled-organization TIFFs
(TileWidth 322) are out of scope — the engine's own tiling happens
relationally on (tx, ty, px) tables; strips are the interchange form.
"""

from __future__ import annotations

import struct

import numpy as np

# tag ids
_W, _H, _BPS, _COMP, _PHOT = 256, 257, 258, 259, 262
_SOFF, _SPP, _RPS, _SCNT, _SFMT = 273, 277, 278, 279, 339
_PSCALE, _TIEPOINT, _GEOKEYS, _NODATA = 33550, 33922, 34735, 42113
_SUBFILE = 254          # NewSubfileType: 1 = reduced-resolution image
_PRED = 317             # Predictor: 2 = horizontal differencing
_PLANAR = 284           # PlanarConfiguration: 1 chunky, 2 planar

_T_ASCII, _T_SHORT, _T_LONG, _T_DOUBLE = 2, 3, 4, 12
_TYPE_SIZE = {1: 1, _T_ASCII: 1, _T_SHORT: 2, _T_LONG: 4, 11: 4,
              _T_DOUBLE: 8, 16: 8, 17: 8}

_FMT_OF_KIND = {"u": 1, "i": 2, "f": 3}
_KIND_OF_FMT = {1: "u", 2: "i", 3: "f"}
_INT_FMT = {1: "B", _T_SHORT: "H", _T_LONG: "I", 16: "Q", 17: "q"}
_NEED = object()


def _tag_reader(tags: dict, bo: str):
    """``vals(tag[, default])`` over one IFD's raw (type, count, bytes)
    tags: GDAL_NODATA as text, the georeferencing tags as floats and
    every other tag as ints.  An absent tag gives ``default``, or
    ValueError when there is none; so does a field type the tag does
    not take, a zero count or a value cut short by the end of the
    file."""
    def vals(tag, default=_NEED):
        if tag not in tags:
            if default is _NEED:
                raise ValueError(f"TIFF tag {tag} missing")
            return default
        typ, cnt, raw = tags[tag]
        fmt = ({_T_ASCII: "s"} if tag == _NODATA
               else {_T_DOUBLE: "d"} if tag in (_PSCALE, _TIEPOINT)
               else _INT_FMT).get(typ)
        if fmt is None or not cnt or len(raw) < cnt * struct.calcsize(fmt):
            raise ValueError(f"TIFF tag {tag}: bad type {typ} or count {cnt}")
        if fmt == "s":
            return raw.split(b"\x00")[0].decode()
        return list(struct.unpack(f"{bo}{cnt}{fmt}", raw))
    return vals


def _sample_dtype(bo: str, sfmts: list, bpss: list) -> np.dtype:
    if len(set(sfmts)) > 1 or len(set(bpss)) > 1:
        raise ValueError("heterogeneous per-band sample types")
    kind = _KIND_OF_FMT.get(sfmts[0])
    if kind is None:
        raise ValueError(f"unsupported sample format {sfmts[0]}")
    try:
        return np.dtype(f"{bo}{kind}{bpss[0] // 8}")
    except TypeError:
        raise ValueError(f"unsupported {bpss[0]}-bit {kind} samples") from None


def _hdiff(block: np.ndarray) -> np.ndarray:
    """Predictor=2 horizontal differencing (TIFF 6.0 §14): each
    sample minus the SAME-CHANNEL sample of the previous pixel,
    modulo the integer width.  block is (rows, w) or (rows, w, spp)."""
    out = block.copy()
    out[:, 1:] = block[:, 1:] - block[:, :-1]
    return out


def _unhdiff(block: np.ndarray) -> np.ndarray:
    return np.cumsum(block.astype(block.dtype), axis=1,
                     dtype=block.dtype)


def _ifd_block(a: np.ndarray, base: int,
               extra_entries: list, rows_per_strip: int | None,
               compression: int = 1, predictor: int = 1):
    """Serialize ONE IFD + its external tag data + strip data as a
    self-contained block whose internal offsets are absolute given
    ``base`` (the block's position in the file).  Returns
    (block_bytes, next_ptr_abs_offset) — the caller patches the
    4-byte next-IFD pointer at that absolute position to chain.

    compression: 1 = none, 8 = Adobe DEFLATE (zlib); predictor 2
    (horizontal differencing — integer dtypes only) applies before
    the codec, the usual pairing for compressible rasters.  A 3-D
    (h, w, spp) array writes SamplesPerPixel=spp with chunky
    (pixel-interleaved) PlanarConfiguration=1 layout."""
    if a.ndim == 3:
        h, w, spp = a.shape
    else:
        h, w = a.shape
        spp = 1
    px_bytes = spp * a.dtype.itemsize
    if rows_per_strip is None:
        rows_per_strip = max(1, 8192 // max(1, w * px_bytes))
    rows_per_strip = min(rows_per_strip, h) if h else 1
    n_strips = max(1, (h + rows_per_strip - 1) // rows_per_strip)
    le = a.astype(a.dtype.newbyteorder("<"), copy=False)
    strips = []
    for i in range(n_strips):
        block = le[i * rows_per_strip:(i + 1) * rows_per_strip]
        if predictor == 2:
            block = _hdiff(block)
        raw = np.ascontiguousarray(block).tobytes()
        if compression == 8:
            import zlib
            raw = zlib.compress(raw, 6)
        strips.append(raw)

    bits = a.dtype.itemsize * 8
    fmt = _FMT_OF_KIND[a.dtype.kind]
    entries: list[tuple[int, int, int, object]] = [
        (_W, _T_LONG, 1, w),
        (_H, _T_LONG, 1, h),
        (_BPS, _T_SHORT, spp, [bits] * spp),
        (_COMP, _T_SHORT, 1, compression),
        (_PHOT, _T_SHORT, 1, 2 if spp == 3 else 1),
        (_SOFF, _T_LONG, n_strips, None),      # patched below
        (_SPP, _T_SHORT, 1, spp),
        (_RPS, _T_LONG, 1, rows_per_strip),
        (_SCNT, _T_LONG, n_strips, [len(s) for s in strips]),
        (_SFMT, _T_SHORT, spp, [fmt] * spp),
    ] + list(extra_entries)
    if spp > 1:
        entries.append((_PLANAR, _T_SHORT, 1, 1))
    if predictor == 2:
        entries.append((_PRED, _T_SHORT, 1, 2))
    entries.sort(key=lambda e: e[0])

    ifd_size = 2 + 12 * len(entries) + 4
    ext_off = base + ifd_size

    def _pack_vals(typ, cnt, val) -> bytes:
        if typ == _T_ASCII:
            return bytes(val)
        fmt = {_T_SHORT: "H", _T_LONG: "I", _T_DOUBLE: "d"}[typ]
        vals = val if isinstance(val, (list, tuple)) else [val]
        return struct.pack(f"<{cnt}{fmt}", *[v for v in vals])

    # pass 1: external sizes -> strip offsets
    cursor = ext_off
    for tag, typ, cnt, val in entries:
        size = 4 * cnt if tag == _SOFF else _TYPE_SIZE[typ] * cnt
        if size > 4:
            cursor += size + (size & 1)
    offs = []
    for s in strips:
        offs.append(cursor)
        cursor += len(s)

    # pass 2: serialize
    out = bytearray(struct.pack("<H", len(entries)))
    ext = bytearray()
    ext_cursor = ext_off
    for tag, typ, cnt, val in entries:
        if tag == _SOFF:
            val = offs
        blob = _pack_vals(typ, cnt, val)
        if len(blob) > 4:
            out += struct.pack("<HHII", tag, typ, cnt, ext_cursor)
            pad = len(blob) & 1
            ext += blob + b"\x00" * pad
            ext_cursor += len(blob) + pad
        else:
            out += struct.pack("<HHI", tag, typ, cnt) + blob.ljust(4, b"\x00")
    next_ptr_abs = base + len(out)
    out += struct.pack("<I", 0)        # next IFD (patched when chaining)
    out += ext
    for s in strips:
        out += s
    return bytes(out), next_ptr_abs


def write_geotiff(arr: np.ndarray, geotransform=None, epsg: int | None = None,
                  nodata: float | None = None,
                  rows_per_strip: int | None = None,
                  overviews=None, compression: str | None = None,
                  predictor: int = 1) -> bytes:
    """Encode a 2-D array as a single-band baseline GeoTIFF (LE).

    ``geotransform`` is GDAL's 6-tuple (x0, dx, rot, y0, rot, -dy)
    with zero rotation terms (north-up, the PixelScale+Tiepoint
    model).  ``overviews`` is an optional list of reduced-resolution
    arrays (same dtype; e.g. from operators/raster_tile.py's
    reference-exact decimators) appended as chained IFDs tagged
    NewSubfileType=reduced-image — the gdaladdo internal-overview
    layout (frmts/gtiff role)."""
    a = np.ascontiguousarray(arr)
    if a.ndim not in (2, 3):
        raise ValueError("(h, w) or (h, w, bands) array expected")
    if a.dtype.kind not in _FMT_OF_KIND:
        raise ValueError(f"unsupported dtype {a.dtype}")
    comp = {None: 1, "none": 1, "deflate": 8}.get(compression, -1)
    if comp < 0:
        raise ValueError(f"unsupported compression {compression!r}")
    if predictor == 2 and a.dtype.kind == "f":
        raise ValueError("predictor=2 is integer-only (TIFF 6.0 §14)")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")

    extra: list[tuple[int, int, int, object]] = []
    if geotransform is not None:
        x0, dx, _r0, y0, _r1, ndy = geotransform
        extra.append((_PSCALE, _T_DOUBLE, 3, [dx, -ndy, 0.0]))
        extra.append((_TIEPOINT, _T_DOUBLE, 6,
                      [0.0, 0.0, 0.0, x0, y0, 0.0]))
    if epsg is not None:
        geographic = epsg == 4326
        keys = [1, 1, 0, 3,
                1024, 0, 1, 2 if geographic else 1,
                1025, 0, 1, 1,
                (2048 if geographic else 3072), 0, 1, int(epsg)]
        extra.append((_GEOKEYS, _T_SHORT, len(keys), keys))
    if nodata is not None:
        txt = (f"{nodata:.18g}").encode() + b"\x00"
        extra.append((_NODATA, _T_ASCII, len(txt), txt))

    out = bytearray(struct.pack("<2sHI", b"II", 42, 8))
    block, next_ptr = _ifd_block(a, 8, extra, rows_per_strip,
                                 compression=comp, predictor=predictor)
    out += block
    for ov in (overviews or []):
        o = np.ascontiguousarray(ov)
        if o.dtype != a.dtype:
            raise ValueError("overview dtype must match the base band")
        if len(out) & 1:
            out += b"\x00"
        base = len(out)
        struct.pack_into("<I", out, next_ptr, base)
        block, next_ptr = _ifd_block(
            o, base, [(_SUBFILE, _T_LONG, 1, 1)], rows_per_strip,
            compression=comp, predictor=predictor)
        out += block
    return bytes(out)


def lzw_decode(src: bytes, limit: int | None = None) -> bytes:
    """TIFF-variant LZW decode (TIFF 6.0 §13): MSB-first variable-width
    codes starting at 9 bits, ClearCode 256, EOI 257, with the "early
    change" convention (width bumps one code EARLY relative to naive
    LZW — the libtiff behavior GDAL reads/writes).  Decoder only: the
    writer emits DEFLATE; this accepts the wild's most common legacy
    GeoTIFF compression.  Decoding stops after ``limit`` output bytes
    when one is given."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []

    def reset():
        table.clear()
        table.extend(bytes([i]) for i in range(256))
        table.append(b"")       # 256 clear
        table.append(b"")       # 257 eoi
        return 9

    width = reset()
    bitbuf = 0
    nbits = 0
    prev: bytes | None = None
    i = 0
    n = len(src)
    while True:
        while nbits < width:
            if i >= n:
                return bytes(out)
            bitbuf = (bitbuf << 8) | src[i]
            i += 1
            nbits += 8
        nbits -= width
        code = bitbuf >> nbits
        bitbuf &= (1 << nbits) - 1
        if code == EOI:
            return bytes(out)
        if code == CLEAR:
            width = reset()
            prev = None
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt LZW stream")
        if prev is not None:
            table.append(prev + entry[:1])
        out += entry
        if limit is not None and len(out) >= limit:
            return bytes(out[:limit])
        prev = entry
        # early change: the decoder's table lags the encoder's by ONE
        # entry, so it widens when its next free code reaches
        # 2^width - 2 (encoder: 2^width - 1) — TIFF 6.0 §13 / libtiff
        if len(table) >= (1 << width) - 2 and width < 12:
            width += 1
    return bytes(out)


def _fits(need: int, data: bytes) -> None:
    """Uncompressed pixels are bytes of the file itself."""
    if need > len(data):
        raise ValueError(f"{need} bytes of pixels in a {len(data)}-byte file")


def _read_ifd(data: bytes, bo: str, ifd_off: int):
    """Parse one IFD -> (array, tags, vals, next_ifd_offset)."""
    (n_ent,) = struct.unpack_from(bo + "H", data, ifd_off)
    tags: dict[int, tuple[int, int, bytes]] = {}
    for k in range(n_ent):
        tag, typ, cnt = struct.unpack_from(bo + "HHI", data,
                                           ifd_off + 2 + 12 * k)
        size = _TYPE_SIZE.get(typ, 1) * cnt
        voff = ifd_off + 2 + 12 * k + 8
        if size > 4:
            (voff,) = struct.unpack_from(bo + "I", data, voff)
        tags[tag] = (typ, cnt, data[voff:voff + size])
    (next_off,) = struct.unpack_from(bo + "I", data,
                                     ifd_off + 2 + 12 * n_ent)

    vals = _tag_reader(tags, bo)
    w = vals(_W)[0]
    h = vals(_H)[0]
    comp = vals(_COMP, [1])[0]
    if comp not in (1, 5, 8):
        raise ValueError(f"unsupported compression {comp}")
    spp = vals(_SPP, [1])[0]
    dtype = _sample_dtype(bo, vals(_SFMT, [1]), vals(_BPS, [8]))
    planar = vals(_PLANAR, [1])[0]
    need = h * w * spp * dtype.itemsize
    if comp == 1:
        _fits(need, data)
    # strips decode in turn until the image is full, none past it
    raw, got, mv = [], 0, memoryview(data)
    for o, c in zip(vals(_SOFF), vals(_SCNT)):
        if got >= need:
            break
        raw.append(_decompress(mv[o:o + c], comp, need - got))
        got += len(raw[-1])
    flat = np.frombuffer(b"".join(raw), dtype=dtype, count=h * w * spp)
    if spp == 1:
        arr = flat.reshape(h, w)
    elif planar == 1:       # chunky: pixel-interleaved
        arr = flat.reshape(h, w, spp)
    elif planar == 2:       # planar: band-major strip sequence
        arr = np.moveaxis(flat.reshape(spp, h, w), 0, 2)
    else:
        raise ValueError(f"unsupported planar configuration {planar}")
    arr = arr.astype(dtype.newbyteorder("="))
    pred = vals(_PRED, [1])[0]
    if pred == 2:
        # horizontal differencing is per ROW (per channel) — strip
        # boundaries don't matter, one cumsum undoes the whole band
        arr = _unhdiff(arr)
    elif pred != 1:
        raise ValueError(f"unsupported predictor {pred}")
    return arr, tags, vals, next_off


def read_geotiff(data: bytes, return_overviews: bool = False):
    """Decode our baseline subset (either byte order) ->
    (array, geotransform | None, epsg | None, nodata | None), or with
    ``return_overviews`` a 5-tuple whose last element is the list of
    reduced-resolution arrays from chained overview IFDs.

    Malformed input of any kind raises ``ValueError``, and decoding
    allocates at most about the file's size plus the image's."""
    try:
        return _read_geotiff(data, return_overviews)
    except struct.error as exc:  # a header, IFD or value past the end
        raise ValueError(f"truncated TIFF: {exc}") from None


def _read_geotiff(data: bytes, return_overviews: bool):
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    magic, ifd_off = struct.unpack_from(bo + "HI", data, 2)
    if magic == 43 or _has_tile_tag(data, bo, magic):
        # BigTIFF / tiled organization: delegate to the seek-based
        # reader (main image only — these layouts carry no overview
        # chain in our writer)
        import io
        f = io.BytesIO(data)
        m = tiff_meta(f)
        if m.comp == 1:
            _fits(m.h * m.w * m.spp * m.dtype.itemsize, data)
        arr = read_tiff_rows(f, m, 0, m.h)
        if not return_overviews:
            return arr, m.gt, m.epsg, m.nodata
        return arr, m.gt, m.epsg, m.nodata, []
    if magic != 42:
        raise ValueError("not a classic TIFF")

    arr, tags, vals, next_off = _read_ifd(data, bo, ifd_off)

    gt = None
    if _PSCALE in tags and _TIEPOINT in tags:
        dx, dy, _ = vals(_PSCALE)
        tp = vals(_TIEPOINT)
        # tiepoint (i, j, k) -> (x, y, z): x0 = x - i*dx, y0 = y + j*dy
        i, j, _k, x, y, _z = tp[:6]
        gt = (x - i * dx, dx, 0.0, y + j * dy, 0.0, -dy)

    epsg = None
    if _GEOKEYS in tags:
        keys = vals(_GEOKEYS)
        for k in range(4, len(keys), 4):
            kid, loc, cnt, v = keys[k:k + 4]
            if kid in (2048, 3072) and loc == 0:
                epsg = int(v)
    nod = vals(_NODATA, None)
    nodata = float(nod) if nod is not None else None
    if not return_overviews:
        return arr, gt, epsg, nodata

    overviews = []
    seen = {ifd_off}
    while next_off and next_off not in seen:
        seen.add(next_off)
        ov, _t, _v, next_off = _read_ifd(data, bo, next_off)
        overviews.append(ov)
    return arr, gt, epsg, nodata, overviews


# ---- extended organization: tiles, BigTIFF, seek-based range reads --------
# TIFF 6.0 §15 tiled images (TileWidth 322 / TileLength 323 /
# TileOffsets 324 / TileByteCounts 325, edge tiles padded to full
# size) and the BigTIFF spec (magic 43, 8-byte offsets, LONG8 type
# 16, 20-byte IFD entries) — the organizations GDAL's GTiff driver
# reads block-wise (gcore/gdalrasterband.cpp block contract;
# frmts/gtiff BigTIFF support).  The seek-based reader below is what
# lets a multi-GB granule decode as (row-range) SPLITS across tasks
# instead of one whole-file task.
_TW, _TH, _TOFF, _TCNT = 322, 323, 324, 325
_T_LONG8 = 16


def write_geotiff_ext(arr: np.ndarray, geotransform=None,
                      epsg: int | None = None, nodata: float | None = None,
                      rows_per_strip: int | None = None,
                      tile_size=None, compression: str | None = None,
                      predictor: int = 1, bigtiff: bool = False) -> bytes:
    """General-organization GeoTIFF writer: strips (default) or tiles
    (``tile_size`` int or (tw, th) — multiples of 16 per TIFF 6.0
    §15), classic or BigTIFF container.  Same dtype/geo tag surface
    as write_geotiff; main image only (no overview chain)."""
    a = np.ascontiguousarray(arr)
    if a.ndim not in (2, 3):
        raise ValueError("(h, w) or (h, w, bands) array expected")
    if a.dtype.kind not in _FMT_OF_KIND:
        raise ValueError(f"unsupported dtype {a.dtype}")
    comp = {None: 1, "none": 1, "deflate": 8}.get(compression, -1)
    if comp < 0:
        raise ValueError(f"unsupported compression {compression!r}")
    if predictor == 2 and a.dtype.kind == "f":
        raise ValueError("predictor=2 is integer-only (TIFF 6.0 §14)")
    if a.ndim == 3:
        h, w, spp = a.shape
    else:
        (h, w), spp = a.shape, 1
    le = a.astype(a.dtype.newbyteorder("<"), copy=False)

    def _encode(block: np.ndarray) -> bytes:
        if predictor == 2:
            block = _hdiff(block)
        raw = np.ascontiguousarray(block).tobytes()
        if comp == 8:
            import zlib
            raw = zlib.compress(raw, 6)
        return raw

    blocks: list[bytes] = []
    entries: list[tuple[int, int, int, object]] = [
        (_W, _T_LONG, 1, w), (_H, _T_LONG, 1, h),
        (_BPS, _T_SHORT, spp, [a.dtype.itemsize * 8] * spp),
        (_COMP, _T_SHORT, 1, comp),
        (_PHOT, _T_SHORT, 1, 2 if spp == 3 else 1),
        (_SPP, _T_SHORT, 1, spp),
        (_SFMT, _T_SHORT, spp, [_FMT_OF_KIND[a.dtype.kind]] * spp),
    ]
    if tile_size is not None:
        tw, th = (tile_size if isinstance(tile_size, (tuple, list))
                  else (tile_size, tile_size))
        if tw % 16 or th % 16:
            raise ValueError("tile dims must be multiples of 16 (§15)")
        for ty0 in range(0, h, th):
            for tx0 in range(0, w, tw):
                t = le[ty0:ty0 + th, tx0:tx0 + tw]
                if t.shape[0] != th or t.shape[1] != tw:
                    pad = np.zeros((th, tw) + ((spp,) if spp > 1 else ()),
                                   dtype=le.dtype)
                    pad[:t.shape[0], :t.shape[1]] = t
                    t = pad
                blocks.append(_encode(t))
        off_tag, cnt_tag = _TOFF, _TCNT
        entries += [(_TW, _T_LONG, 1, tw), (_TH, _T_LONG, 1, th)]
    else:
        px_bytes = spp * a.dtype.itemsize
        rps = rows_per_strip or max(1, 8192 // max(1, w * px_bytes))
        rps = min(rps, h) if h else 1
        for r0 in range(0, max(h, 1), rps):
            blocks.append(_encode(le[r0:r0 + rps]))
        off_tag, cnt_tag = _SOFF, _SCNT
        entries.append((_RPS, _T_LONG, 1, rps))
    nb = len(blocks)
    off_typ = _T_LONG8 if bigtiff else _T_LONG
    entries += [(off_tag, off_typ, nb, None),
                (cnt_tag, _T_LONG, nb, [len(b) for b in blocks])]
    if spp > 1:
        entries.append((_PLANAR, _T_SHORT, 1, 1))
    if predictor == 2:
        entries.append((_PRED, _T_SHORT, 1, 2))
    if geotransform is not None:
        x0, dx, _r0, y0, _r1, ndy = geotransform
        entries.append((_PSCALE, _T_DOUBLE, 3, [dx, -ndy, 0.0]))
        entries.append((_TIEPOINT, _T_DOUBLE, 6,
                        [0.0, 0.0, 0.0, x0, y0, 0.0]))
    if epsg is not None:
        geographic = epsg == 4326
        keys = [1, 1, 0, 3, 1024, 0, 1, 2 if geographic else 1,
                1025, 0, 1, 1,
                (2048 if geographic else 3072), 0, 1, int(epsg)]
        entries.append((_GEOKEYS, _T_SHORT, len(keys), keys))
    if nodata is not None:
        txt = (f"{nodata:.18g}").encode() + b"\x00"
        entries.append((_NODATA, _T_ASCII, len(txt), txt))
    entries.sort(key=lambda e: e[0])

    inline_cap = 8 if bigtiff else 4
    ent_sz = 20 if bigtiff else 12
    hdr_sz = 16 if bigtiff else 8
    ifd_sz = ((8 if bigtiff else 2) + ent_sz * len(entries)
              + (8 if bigtiff else 4))
    type_size = dict(_TYPE_SIZE)

    def _pack_vals(typ, cnt, val) -> bytes:
        if typ == _T_ASCII:
            return bytes(val)
        fmt = {_T_SHORT: "H", _T_LONG: "I", _T_DOUBLE: "d",
               _T_LONG8: "Q"}[typ]
        vals = val if isinstance(val, (list, tuple)) else [val]
        return struct.pack(f"<{cnt}{fmt}", *vals)

    # pass 1: external tag sizes -> block offsets
    cursor = hdr_sz + ifd_sz
    for tag, typ, cnt, val in entries:
        size = type_size[typ] * cnt
        if size > inline_cap:
            cursor += size + (size & 1)
    offs = []
    for b in blocks:
        offs.append(cursor)
        cursor += len(b)

    out = bytearray(
        struct.pack("<2sHHHQ", b"II", 43, 8, 0, 16) if bigtiff
        else struct.pack("<2sHI", b"II", 42, 8))
    out += (struct.pack("<Q", len(entries)) if bigtiff
            else struct.pack("<H", len(entries)))
    ext = bytearray()
    ext_cursor = hdr_sz + ifd_sz
    for tag, typ, cnt, val in entries:
        if tag == off_tag:
            val = offs
        blob = _pack_vals(typ, cnt, val)
        if bigtiff:
            head = struct.pack("<HHQ", tag, typ, cnt)
        else:
            head = struct.pack("<HHI", tag, typ, cnt)
        if len(blob) > inline_cap:
            out += head + (struct.pack("<Q", ext_cursor) if bigtiff
                           else struct.pack("<I", ext_cursor))
            pad = len(blob) & 1
            ext += blob + b"\x00" * pad
            ext_cursor += len(blob) + pad
        else:
            out += head + blob.ljust(inline_cap, b"\x00")
    out += struct.pack("<Q", 0) if bigtiff else struct.pack("<I", 0)
    out += ext
    for b in blocks:
        out += b
    return bytes(out)


class TiffMeta:
    """Parsed main-IFD metadata for seek-based range reads."""
    __slots__ = ("bo", "big", "w", "h", "spp", "planar", "comp", "pred",
                 "dtype", "tiled", "rps", "tw", "th", "offsets", "counts",
                 "gt", "epsg", "nodata")


def tiff_meta(f) -> TiffMeta:
    """Parse the main IFD from a seekable file object WITHOUT reading
    pixel data: classic (42) or BigTIFF (43), strip- or tile-
    organized.  Only header + IFD + out-of-line tag values are read,
    so a 100 GB granule costs a few KB of I/O."""
    f.seek(0)
    head = f.read(16)
    if head[:2] == b"II":
        bo = "<"
    elif head[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    (magic,) = struct.unpack_from(bo + "H", head, 2)
    if magic == 42:
        big = False
        (ifd_off,) = struct.unpack_from(bo + "I", head, 4)
    elif magic == 43:
        big = True
        osz, zero = struct.unpack_from(bo + "HH", head, 4)
        if osz != 8 or zero != 0:
            raise ValueError("malformed BigTIFF header")
        (ifd_off,) = struct.unpack_from(bo + "Q", head, 8)
    else:
        raise ValueError(f"not a TIFF (magic {magic})")

    f.seek(ifd_off)
    if big:
        (n_ent,) = struct.unpack(bo + "Q", f.read(8))
        ent_raw = f.read(20 * n_ent)
        ent_sz, cnt_fmt, inline = 20, "Q", 8
    else:
        (n_ent,) = struct.unpack(bo + "H", f.read(2))
        ent_raw = f.read(12 * n_ent)
        ent_sz, cnt_fmt, inline = 12, "I", 4
    tags: dict[int, tuple[int, int, bytes]] = {}
    pending: list[tuple[int, int, int, int, int]] = []
    for k in range(n_ent):
        tag, typ = struct.unpack_from(bo + "HH", ent_raw, k * ent_sz)
        (cnt,) = struct.unpack_from(bo + cnt_fmt, ent_raw, k * ent_sz + 4)
        vpos = k * ent_sz + (12 if big else 8)
        size = _TYPE_SIZE.get(typ, 1) * cnt
        if size <= inline:
            tags[tag] = (typ, cnt, ent_raw[vpos:vpos + size])
        else:
            (voff,) = struct.unpack_from(bo + cnt_fmt, ent_raw, vpos)
            pending.append((tag, typ, cnt, voff, size))
    for tag, typ, cnt, voff, size in pending:
        f.seek(voff)
        tags[tag] = (typ, cnt, f.read(size))

    vals = _tag_reader(tags, bo)
    m = TiffMeta()
    m.bo, m.big = bo, big
    m.w, m.h = vals(_W)[0], vals(_H)[0]
    m.comp = vals(_COMP, [1])[0]
    if m.comp not in (1, 5, 8):
        raise ValueError(f"unsupported compression {m.comp}")
    m.spp = vals(_SPP, [1])[0]
    m.planar = vals(_PLANAR, [1])[0]
    m.pred = vals(_PRED, [1])[0]
    m.dtype = _sample_dtype(bo, vals(_SFMT, [1]), vals(_BPS, [8]))
    m.tiled = _TOFF in tags
    if m.tiled:
        m.tw, m.th = vals(_TW)[0], vals(_TH)[0]
        m.rps = None
        m.offsets, m.counts = vals(_TOFF), vals(_TCNT)
        bw, bh = m.tw, m.th
    else:
        m.tw = m.th = None
        m.rps = vals(_RPS, [m.h or 1])[0]
        m.offsets, m.counts = vals(_SOFF), vals(_SCNT)
        bw, bh = m.w, m.rps
    if not (bw and bh and m.spp) or min(len(m.offsets), len(m.counts)) < (
            -(-m.w // bw) * -(-m.h // bh) * (m.spp if m.planar == 2 else 1)):
        raise ValueError("TIFF blocks do not cover the image")
    m.gt = None
    if _PSCALE in tags and _TIEPOINT in tags:
        dx, dy, _ = vals(_PSCALE)
        i, j, _k, x, y, _z = vals(_TIEPOINT)[:6]
        m.gt = (x - i * dx, dx, 0.0, y + j * dy, 0.0, -dy)
    m.epsg = None
    if _GEOKEYS in tags:
        keys = vals(_GEOKEYS)
        for k in range(4, len(keys), 4):
            kid, loc, _cnt, v = keys[k:k + 4]
            if kid in (2048, 3072) and loc == 0:
                m.epsg = int(v)
    nod = vals(_NODATA, None)
    m.nodata = float(nod) if nod is not None else None
    return m


def _decompress(raw, comp: int, size: int) -> bytes:
    """One strip or tile, decoded to at most ``size`` bytes (the block
    it fills), so a corrupt stream cannot inflate past it."""
    if comp == 8:
        import zlib
        try:
            return zlib.decompressobj().decompress(raw, size)
        except zlib.error as exc:
            raise ValueError(f"corrupt DEFLATE block: {exc}") from None
    if comp == 5:
        return lzw_decode(raw, size)
    return bytes(raw[:size])


def read_tiff_rows(f, m: TiffMeta, row_lo: int, row_hi: int) -> np.ndarray:
    """Decode image rows [row_lo, row_hi) by seeking ONLY the strips /
    tile rows that intersect the range — GDAL's block-window access
    pattern (gcore/gdalrasterband.cpp), which is what makes one
    granule splittable across tasks.  Returns (rows, w) or
    (rows, w, spp) in native byte order with predictor undone."""
    row_lo, row_hi = max(0, row_lo), min(m.h, row_hi)
    if row_hi <= row_lo:
        base = (0, m.w) if m.spp == 1 else (0, m.w, m.spp)
        return np.empty(base, dtype=m.dtype.newbyteorder("="))

    block = ((m.th * m.tw if m.tiled else min(m.rps, m.h) * m.w)
             * (1 if m.planar == 2 else m.spp) * m.dtype.itemsize)

    def _fetch(idx: int) -> bytes:
        f.seek(m.offsets[idx])
        return _decompress(f.read(m.counts[idx]), m.comp, block)

    if m.tiled:
        if m.planar == 2 and m.spp > 1:
            raise ValueError("planar tiled organization not supported")
        ta = (m.w + m.tw - 1) // m.tw
        ty_lo, ty_hi = row_lo // m.th, (row_hi + m.th - 1) // m.th
        bands = []
        for ty in range(ty_lo, ty_hi):
            row_tiles = []
            for tx in range(ta):
                t = np.frombuffer(_fetch(ty * ta + tx), dtype=m.dtype,
                                  count=m.th * m.tw * m.spp)
                t = (t.reshape(m.th, m.tw) if m.spp == 1
                     else t.reshape(m.th, m.tw, m.spp))
                if m.pred == 2:
                    t = _unhdiff(t)
                row_tiles.append(t)
            band = np.concatenate(row_tiles, axis=1)[:, :m.w]
            bands.append(band)
        arr = np.concatenate(bands, axis=0)
        arr = arr[row_lo - ty_lo * m.th: row_hi - ty_lo * m.th]
        return np.ascontiguousarray(arr.astype(m.dtype.newbyteorder("=")))

    rps = m.rps
    s_lo, s_hi = row_lo // rps, (row_hi + rps - 1) // rps
    spb = (m.h + rps - 1) // rps          # strips per band (planar=2)

    def _rows_of(strips: list[np.ndarray], width: int) -> np.ndarray:
        buf = np.concatenate([s.reshape(-1) for s in strips])
        n_rows = buf.size // width
        return buf[:n_rows * width].reshape(n_rows, width)

    if m.spp == 1 or m.planar == 1:
        width = m.w * m.spp
        strips = [np.frombuffer(_fetch(i), dtype=m.dtype)
                  for i in range(s_lo, s_hi)]
        rows = _rows_of(strips, width)
        rows = rows[row_lo - s_lo * rps: row_hi - s_lo * rps]
        arr = (rows.reshape(-1, m.w) if m.spp == 1
               else rows.reshape(-1, m.w, m.spp))
    else:                                  # planar=2: band-major strips
        per_band = []
        for b in range(m.spp):
            strips = [np.frombuffer(_fetch(b * spb + i), dtype=m.dtype)
                      for i in range(s_lo, s_hi)]
            rows = _rows_of(strips, m.w)
            per_band.append(rows[row_lo - s_lo * rps:
                                 row_hi - s_lo * rps])
        arr = np.stack(per_band, axis=2)
    arr = arr.astype(m.dtype.newbyteorder("="))
    if m.pred == 2:
        arr = _unhdiff(arr)
    return np.ascontiguousarray(arr)


def _has_tile_tag(data: bytes, bo: str, magic: int) -> bool:
    """Cheap main-IFD sniff for TileOffsets (324) on classic files."""
    if magic != 42:
        return False
    try:
        (ifd_off,) = struct.unpack_from(bo + "I", data, 4)
        (n_ent,) = struct.unpack_from(bo + "H", data, ifd_off)
        for k in range(n_ent):
            (tag,) = struct.unpack_from(bo + "H", data, ifd_off + 2 + 12 * k)
            if tag == _TOFF:
                return True
    except struct.error:
        return False
    return False


# ---- header-only strip writer: the distributed-sink building block --------
def geotiff_strip_header(w: int, h: int, dtype,
                         strip_byte_counts: list[int],
                         rows_per_strip: int, spp: int = 1,
                         geotransform=None, epsg: int | None = None,
                         nodata: float | None = None,
                         compression: str | None = None,
                         predictor: int = 1,
                         bigtiff: bool = False):
    """Header + IFD bytes for a strip-organized GeoTIFF whose strip
    DATA is written externally (by other tasks) at the returned
    offsets.  This is what lets ONE output granule be produced by
    many executors: each strip band is assembled + compressed where
    its tiles are, only the per-strip byte counts come to the single
    writer, which emits this header and lets executors pwrite their
    strips into the pre-sized file at disjoint offsets (reference
    role: frmts/gtiff streamed strip writing; object-store mapping:
    one multipart-upload part per strip run).

    ``strip_byte_counts`` is ordered band-major (all of band 1's
    strips top-to-bottom, then band 2's, ...) — PlanarConfiguration=2
    when spp > 1, matching _read_ifd's planar branch.  Returns
    (header_bytes, strip_offsets); strip k's data belongs at absolute
    file offset strip_offsets[k], and the file's total size is
    strip_offsets[-1] + strip_byte_counts[-1]."""
    dt = np.dtype(dtype)
    if dt.kind not in _FMT_OF_KIND:
        raise ValueError(f"unsupported dtype {dt}")
    comp = {None: 1, "none": 1, "deflate": 8}.get(compression, -1)
    if comp < 0:
        raise ValueError(f"unsupported compression {compression!r}")
    if predictor == 2 and dt.kind == "f":
        raise ValueError("predictor=2 is integer-only (TIFF 6.0 §14)")
    nb = len(strip_byte_counts)
    per_band = max(1, (h + rows_per_strip - 1) // rows_per_strip)
    if nb != per_band * spp:
        raise ValueError(
            f"expected {per_band * spp} strip counts "
            f"(ceil({h}/{rows_per_strip}) x {spp} bands), got {nb}")

    entries: list[tuple[int, int, int, object]] = [
        (_W, _T_LONG, 1, w), (_H, _T_LONG, 1, h),
        (_BPS, _T_SHORT, spp, [dt.itemsize * 8] * spp),
        (_COMP, _T_SHORT, 1, comp),
        (_PHOT, _T_SHORT, 1, 2 if spp == 3 else 1),
        (_SPP, _T_SHORT, 1, spp),
        (_SFMT, _T_SHORT, spp, [_FMT_OF_KIND[dt.kind]] * spp),
        (_RPS, _T_LONG, 1, rows_per_strip),
        (_SOFF, _T_LONG8 if bigtiff else _T_LONG, nb, None),
        (_SCNT, _T_LONG, nb, list(strip_byte_counts)),
    ]
    if spp > 1:
        entries.append((_PLANAR, _T_SHORT, 1, 2))
    if predictor == 2:
        entries.append((_PRED, _T_SHORT, 1, 2))
    if geotransform is not None:
        x0, dx, _r0, y0, _r1, ndy = geotransform
        entries.append((_PSCALE, _T_DOUBLE, 3, [dx, -ndy, 0.0]))
        entries.append((_TIEPOINT, _T_DOUBLE, 6,
                        [0.0, 0.0, 0.0, x0, y0, 0.0]))
    if epsg is not None:
        geographic = epsg == 4326
        keys = [1, 1, 0, 3, 1024, 0, 1, 2 if geographic else 1,
                1025, 0, 1, 1,
                (2048 if geographic else 3072), 0, 1, int(epsg)]
        entries.append((_GEOKEYS, _T_SHORT, len(keys), keys))
    if nodata is not None:
        txt = (f"{nodata:.18g}").encode() + b"\x00"
        entries.append((_NODATA, _T_ASCII, len(txt), txt))
    entries.sort(key=lambda e: e[0])

    inline_cap = 8 if bigtiff else 4
    ent_sz = 20 if bigtiff else 12
    hdr_sz = 16 if bigtiff else 8
    ifd_sz = ((8 if bigtiff else 2) + ent_sz * len(entries)
              + (8 if bigtiff else 4))

    def _pack_vals(typ, cnt, val) -> bytes:
        if typ == _T_ASCII:
            return bytes(val)
        fmt = {_T_SHORT: "H", _T_LONG: "I", _T_DOUBLE: "d",
               _T_LONG8: "Q"}[typ]
        vals = val if isinstance(val, (list, tuple)) else [val]
        return struct.pack(f"<{cnt}{fmt}", *vals)

    # pass 1: external tag sizes -> strip offsets
    cursor = hdr_sz + ifd_sz
    for tag, typ, cnt, val in entries:
        size = _TYPE_SIZE[typ] * cnt
        if size > inline_cap:
            cursor += size + (size & 1)
    offs = []
    for c in strip_byte_counts:
        offs.append(cursor)
        cursor += int(c)
    if not bigtiff and cursor > 0xFFFFFFFF:
        raise ValueError(
            f"total file size {cursor} exceeds the classic-TIFF 4 GB "
            "offset space; pass bigtiff=True")

    out = bytearray(
        struct.pack("<2sHHHQ", b"II", 43, 8, 0, 16) if bigtiff
        else struct.pack("<2sHI", b"II", 42, 8))
    out += (struct.pack("<Q", len(entries)) if bigtiff
            else struct.pack("<H", len(entries)))
    ext = bytearray()
    ext_cursor = hdr_sz + ifd_sz
    for tag, typ, cnt, val in entries:
        if tag == _SOFF:
            val = offs
        blob = _pack_vals(typ, cnt, val)
        head = (struct.pack("<HHQ", tag, typ, cnt) if bigtiff
                else struct.pack("<HHI", tag, typ, cnt))
        if len(blob) > inline_cap:
            out += head + (struct.pack("<Q", ext_cursor) if bigtiff
                           else struct.pack("<I", ext_cursor))
            pad = len(blob) & 1
            ext += blob + b"\x00" * pad
            ext_cursor += len(blob) + pad
        else:
            out += head + blob.ljust(inline_cap, b"\x00")
    out += struct.pack("<Q", 0) if bigtiff else struct.pack("<I", 0)
    out += ext
    assert len(out) == hdr_sz + ifd_sz + len(ext)
    return bytes(out), offs
