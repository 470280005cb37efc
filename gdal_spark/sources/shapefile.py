"""ESRI Shapefile reader — pure-python binary parsing, distributed by
.shx record ranges.

Format per the public ESRI Shapefile Technical Description (July
1998) as implemented by the reference driver
(/root/reference/ogr/ogrsf_frmts/shape/shapefil.h, shpopen.c,
dbfopen.c): 100-byte .shp header (big-endian file code 9994 /
length, little-endian version 1000 / shape type / bbox), records as
(big-endian record number + content length) followed by the
little-endian shape; .shx holds (offset, length) pairs in 16-bit
words; .dbf is dBASE III (header record count/size, 32-byte field
descriptors, fixed-width text records).

Scale shape: the .shx index (8 bytes/record) is read DRIVER-side and
cut into record ranges; each task seeks straight to its byte range of
.shp/.dbf — one large shapefile parallelizes across the cluster
without any task reading the whole file.  Z/M coordinates are parsed
past but dropped (XY engine, like the SURVEY's SRS bounds).

Ring grouping for type-5 polygons follows the spec: clockwise rings
open a new polygon, counter-clockwise rings are holes of the last
opened one (the reference's organizePolygons default heuristic for
well-formed files).
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernels import wkb as kwkb

_SHP_NULL, _SHP_POINT, _SHP_ARC, _SHP_POLYGON, _SHP_MULTIPOINT = 0, 1, 3, 5, 8


def _base(stype: int) -> int:
    """Z (11,13,15,18) and M (21,23,25,28) variants share the XY
    layout prefix; reduce to the base type."""
    return {11: 1, 13: 3, 15: 5, 18: 8,
            21: 1, 23: 3, 25: 5, 28: 8}.get(stype, stype)


def _ring_is_cw(ring: np.ndarray) -> bool:
    x, y = ring[:, 0], ring[:, 1]
    return float(np.sum((x[1:] - x[:-1]) * (y[1:] + y[:-1]))) > 0.0


def _shape_to_wkb(buf: bytes) -> bytes | None:
    """One .shp record's shape -> WKB (None for a null shape).

    Malformed input of any kind raises ``ValueError``: counts past the
    record's end, negative counts and part offsets outside the points
    are refused before anything is allocated for them."""
    try:
        return _shape_wkb(buf)
    except struct.error as exc:        # a field past the record's end
        raise ValueError(f"truncated shape record: {exc}") from None


def _counted(buf: bytes, dtype: str, count: int, offset: int) -> np.ndarray:
    """``count`` items of ``dtype`` at ``offset``; ValueError when the
    count is negative or the items run past the buffer."""
    if count < 0 or offset + count * np.dtype(dtype).itemsize > len(buf):
        raise ValueError(f"shape record holds no {count} x {dtype} at {offset}")
    return np.frombuffer(buf, dtype=dtype, count=count, offset=offset)


def _shape_wkb(buf: bytes) -> bytes | None:
    stype = struct.unpack_from("<i", buf, 0)[0]
    b = _base(stype)
    if b == _SHP_NULL:
        return None
    if b == _SHP_POINT:
        x, y = struct.unpack_from("<2d", buf, 4)
        return kwkb.wkb_point(x, y)
    if b == _SHP_MULTIPOINT:
        n = struct.unpack_from("<i", buf, 36)[0]
        pts = _counted(buf, "<f8", 2 * n, 40).reshape(n, 2)
        return kwkb.wkb_multipoint(pts)
    if b not in (_SHP_ARC, _SHP_POLYGON):
        raise ValueError(f"unsupported shape type {stype}")
    # arc / polygon: bbox(32) numParts numPoints parts[] points[]
    n_parts, n_pts = struct.unpack_from("<2i", buf, 36)
    parts = _counted(buf, "<i4", n_parts, 44)
    pts = _counted(buf, "<f8", 2 * n_pts, 44 + 4 * n_parts).reshape(n_pts, 2)
    if n_parts and (np.any(np.diff(parts) < 0) or parts[0] < 0
                    or parts[-1] > n_pts):
        raise ValueError("shape part offsets out of order or past the points")
    rings = [pts[parts[i]:(parts[i + 1] if i + 1 < n_parts else n_pts)]
             for i in range(n_parts)]
    if b == _SHP_ARC:
        if len(rings) == 1:
            return kwkb.wkb_linestring(rings[0])
        return kwkb.wkb_multilinestring(rings)
    # polygon: group rings into polygons (CW opens, CCW is a hole)
    polys: list[list[np.ndarray]] = []
    for ring in rings:
        if _ring_is_cw(ring) or not polys:
            polys.append([ring])
        else:
            polys[-1].append(ring)
    if len(polys) == 1:
        return kwkb.wkb_polygon(polys[0])
    return kwkb.wkb_multipolygon(polys)


def _dbf_fields(path: str):
    with open(path, "rb") as f:
        head = f.read(32)
        n_rec, hdr_size, rec_size = struct.unpack_from("<IHH", head, 4)
        fields = []
        off = 1                                   # deletion flag
        while True:
            fd = f.read(32)
            if not fd or fd[0] == 0x0D:
                break
            name = fd[:11].split(b"\x00")[0].decode("ascii")
            ftype = chr(fd[11])
            flen = fd[16]
            fdec = fd[17]
            fields.append((name, ftype, off, flen, fdec))
            off += flen
    return n_rec, hdr_size, rec_size, fields


def _decode_field(raw: bytes, ftype: str, fdec: int):
    s = raw.decode("ascii", "replace").strip()
    if ftype in ("N", "F"):
        if not s:
            return None
        return float(s) if (fdec > 0 or ftype == "F") else int(float(s))
    if ftype == "L":
        return s in ("Y", "y", "T", "t") if s else None
    return s or None


def read_shapefile(spark: SparkSession, path: str,
                   n_partitions: int = 32) -> DataFrame:
    """path: the .shp file (companion .shx/.dbf beside it).  Returns
    DF(fid, wkb, xmin, ymin, xmax, ymax, <dbf attributes...>)."""
    shx = path[:-4] + ".shx"
    dbf = path[:-4] + ".dbf"
    with open(shx, "rb") as f:
        raw = f.read()
    n_rec = (len(raw) - 100) // 8
    idx = np.frombuffer(raw, dtype=">i4", count=2 * n_rec,
                        offset=100).reshape(n_rec, 2)
    offsets = idx[:, 0] * 2                      # 16-bit words -> bytes
    lengths = idx[:, 1] * 2
    dbf_nrec, dbf_hdr, dbf_rsize, fields = _dbf_fields(dbf)

    step = max(1, -(-n_rec // n_partitions))
    ranges = [(i, min(i + step, n_rec)) for i in range(0, n_rec, step)]
    rng_df = spark.createDataFrame(
        pd.DataFrame(ranges, columns=["rec0", "rec1"]))
    offs_b = spark.sparkContext.broadcast((offsets.tolist(),
                                           lengths.tolist()))

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        offs, lens = offs_b.value
        for pdf in batches:
            for _, rr in pdf.iterrows():
                r0, r1 = int(rr["rec0"]), int(rr["rec1"])
                rows = []
                with open(path, "rb") as fshp, open(dbf, "rb") as fdbf:
                    fdbf.seek(dbf_hdr + dbf_rsize * r0)
                    dbf_chunk = fdbf.read(dbf_rsize * (r1 - r0))
                    for rec in range(r0, r1):
                        fshp.seek(offs[rec] + 8)
                        wkb = _shape_to_wkb(fshp.read(lens[rec]))
                        bbox = ((wkb is not None and kwkb.wkb_bbox(wkb))
                                or (None, None, None, None))
                        drec = dbf_chunk[(rec - r0) * dbf_rsize:
                                         (rec - r0 + 1) * dbf_rsize]
                        attrs = {
                            name: _decode_field(
                                drec[off:off + flen], ftype, fdec)
                            for name, ftype, off, flen, fdec in fields}
                        rows.append({"fid": rec, "wkb": wkb,
                                     "xmin": bbox[0], "ymin": bbox[1],
                                     "xmax": bbox[2], "ymax": bbox[3],
                                     **attrs})
                yield pd.DataFrame(rows)

    def _sql_type(ftype: str, fdec: int) -> str:
        if ftype in ("N", "F"):
            return "double" if (fdec > 0 or ftype == "F") else "long"
        if ftype == "L":
            return "boolean"
        return "string"

    schema = ("fid long, wkb binary, xmin double, ymin double, "
              "xmax double, ymax double")
    for name, ftype, _off, _flen, fdec in fields:
        schema += f", {name} {_sql_type(ftype, fdec)}"
    return rng_df.mapInPandas(_scan, schema)


# ---------------------------------------------------------------- writer
def _ensure_cw(ring: np.ndarray) -> np.ndarray:
    return ring if _ring_is_cw(ring) else ring[::-1]


def _ensure_ccw(ring: np.ndarray) -> np.ndarray:
    return ring[::-1] if _ring_is_cw(ring) else ring


def _wkb_to_shape(wkb: bytes) -> tuple[int, bytes]:
    """WKB -> (shape_type, .shp record content, spec byte layout).
    Polygon rings are re-oriented to the shapefile convention
    (outer CW, holes CCW) like SHPWriteObject does."""
    gtype, payload = kwkb.parse_wkb(wkb)
    if gtype == kwkb.POINT:
        return _SHP_POINT, struct.pack("<i2d", _SHP_POINT, *payload)
    if gtype == kwkb.MULTIPOINT:
        pts = np.asarray(payload, dtype=float).reshape(-1, 2)
        return _SHP_MULTIPOINT, (
            struct.pack("<i", _SHP_MULTIPOINT)
            + struct.pack("<4d", pts[:, 0].min(), pts[:, 1].min(),
                          pts[:, 0].max(), pts[:, 1].max())
            + struct.pack("<i", len(pts)) + pts.astype("<f8").tobytes())
    if gtype in (kwkb.LINESTRING, kwkb.MULTILINESTRING):
        parts = [np.asarray(payload, dtype=float)] if \
            gtype == kwkb.LINESTRING else \
            [np.asarray(p, dtype=float) for p in payload]
        stype = _SHP_ARC
    elif gtype in (kwkb.POLYGON, kwkb.MULTIPOLYGON):
        polys = [payload] if gtype == kwkb.POLYGON else payload
        parts = []
        for rings in polys:
            parts.append(_ensure_cw(np.asarray(rings[0], dtype=float)))
            parts.extend(_ensure_ccw(np.asarray(h, dtype=float))
                         for h in rings[1:])
        stype = _SHP_POLYGON
    else:
        raise ValueError(f"unsupported geometry type {gtype}")
    pts = np.vstack(parts)
    offs, acc = [], 0
    for p in parts:
        offs.append(acc)
        acc += len(p)
    content = (struct.pack("<i", stype)
               + struct.pack("<4d", pts[:, 0].min(), pts[:, 1].min(),
                             pts[:, 0].max(), pts[:, 1].max())
               + struct.pack("<ii", len(parts), len(pts))
               + np.array(offs, dtype="<i4").tobytes()
               + pts.astype("<f8").tobytes())
    return stype, content


def _shp_header(shape_type: int, total_words: int, bbox) -> bytes:
    return (struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
            + struct.pack(">i", total_words)
            + struct.pack("<ii", 1000, shape_type)
            + struct.pack("<8d", bbox[0], bbox[1], bbox[2], bbox[3],
                          0, 0, 0, 0))


def write_shapefile(df: DataFrame, out_dir: str,
                    attr_specs: list[tuple[str, str, int, int]]
                    | None = None) -> None:
    """Distributed sink: each partition writes one part-NNNNN shapefile
    set (.shp/.shx/.dbf) under ``out_dir`` — the part-file layout
    every Spark sink uses, so the write is embarrassingly parallel
    and resumable at partition granularity.  df needs (wkb [, attr
    columns named in attr_specs]); attr_specs entries are
    (name, dbf_type C/N, length, decimals), default a single
    ("FID", "N", 18, 0) taken from a ``fid`` column."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    specs = attr_specs or [("FID", "N", 18, 0)]
    df_cols = set(df.columns)
    src_col = {name: (name if name in df_cols else "fid")
               for name, _t, _l, _d in specs}

    def _fmt(val, ftype, flen, fdec) -> bytes:
        if val is None:
            s = ""
        elif ftype == "N" and fdec > 0:
            s = f"{float(val):.{fdec}f}"
        elif ftype == "N":
            s = str(int(val))
        else:
            s = str(val)
        return s.encode("ascii", "replace").ljust(flen)[:flen]

    def _write_part(pid: int, rows) -> "Iterator[tuple[int, int]]":
        rows = list(rows)
        base = os.path.join(out_dir, f"part-{pid:05d}")
        shapes, dbf_recs = [], []
        stype = _SHP_NULL
        for r in rows:
            if r["wkb"] is None:
                shapes.append(struct.pack("<i", _SHP_NULL))
            else:
                stype, content = _wkb_to_shape(bytes(r["wkb"]))
                shapes.append(content)
            dbf_recs.append(b" " + b"".join(
                _fmt(r[src_col[name]], ftype, flen, fdec)
                for name, ftype, flen, fdec in specs))
        xs = []
        for c in shapes:
            t = struct.unpack_from("<i", c, 0)[0]
            if _base(t) == _SHP_POINT:
                px, py = struct.unpack_from("<2d", c, 4)
                xs.append((px, py, px, py))
            elif _base(t) != _SHP_NULL:
                xs.append(struct.unpack_from("<4d", c, 4))
        bbox = ((min(b[0] for b in xs), min(b[1] for b in xs),
                 max(b[2] for b in xs), max(b[3] for b in xs))
                if xs else (0.0, 0.0, 0.0, 0.0))
        body, shx, off_words = b"", b"", 50
        for i, c in enumerate(shapes):
            body += struct.pack(">ii", i + 1, len(c) // 2) + c
            shx += struct.pack(">ii", off_words, len(c) // 2)
            off_words += 4 + len(c) // 2
        with open(base + ".shp", "wb") as f:
            f.write(_shp_header(stype, 50 + len(body) // 2, bbox) + body)
        with open(base + ".shx", "wb") as f:
            f.write(_shp_header(stype, 50 + 4 * len(shapes), bbox) + shx)
        fds, rec_size = b"", 1
        for name, ftype, flen, fdec in specs:
            fds += (name.encode().ljust(11, b"\x00")[:11] + ftype.encode()
                    + b"\x00" * 4 + bytes([flen, fdec]) + b"\x00" * 14)
            rec_size += flen
        with open(base + ".dbf", "wb") as f:
            f.write(bytes([0x03, 99, 1, 1])
                    + struct.pack("<IHH", len(dbf_recs),
                                  32 + len(fds) + 1, rec_size)
                    + b"\x00" * 20 + fds + b"\x0d"
                    + b"".join(dbf_recs) + b"\x1a")
        yield pid, len(rows)

    parts = df.rdd.mapPartitionsWithIndex(
        lambda pid, it: _write_part(pid, it)).collect()
    if not parts:
        raise ValueError("empty DataFrame")
