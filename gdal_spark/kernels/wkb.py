"""Minimal WKB codec + header-only bbox scan.

Geometry travels through the engine as WKB bytes in a BinaryType
column end-to-end, mirroring the reference's fast path that computes
bboxes / pessimistic intersects directly on WKB without
deserialization (/root/reference/ogr/ogr_wkb.h:25-90).  Full
parse/build follows OGRGeometryFactory::createFromWkb semantics
(/root/reference/ogr/ogrgeometryfactory.cpp:89-134): Point(1),
LineString(2), Polygon(3), MultiPoint(4), MultiLineString(5),
MultiPolygon(6), GeometryCollection(7), CircularString(8),
MultiCurve(11), PolyhedralSurface(15), TIN(16), Triangle(17) — each
in 2-D, Z, M, and ZM variants: ISO offsets +1000/+2000/+3000
(ogr/ogr_core.h:405-519, e.g. wkbCircularStringZ :447) and the
old-style wkb25DBit 0x80000000 flag both decode (the bit set means Z,
as OGRReadWKBGeometryType does).

``parse_wkb`` keeps its historical 2-D contract — payload coordinates
are projected to (x, y) so every downstream kernel (PIP, clip, bbox,
area) works unchanged on 3-D inputs instead of raising.
``parse_wkb_full`` returns (base_type, has_z, has_m, payload) with
full-width coordinate arrays (2+z+m columns; Point -> tuple of that
length) for Z-aware paths (explode, curve linearization, roundtrip).
"""

from __future__ import annotations

import math
import struct

import numpy as np

POINT, LINESTRING, POLYGON = 1, 2, 3
MULTIPOINT, MULTILINESTRING, MULTIPOLYGON = 4, 5, 6
GEOMETRYCOLLECTION = 7
CIRCULARSTRING = 8  # curved subset: same payload layout as LineString
MULTICURVE = 11     # GeometryCollection of curves (ogr_core.h:429)
POLYHEDRALSURFACE, TIN, TRIANGLE = 15, 16, 17

WKB25D = 0x80000000  # old-style 2.5-D flag (ogr_core.h wkb25DBit)

# collections whose parsed parts keep their own (type, payload) tag
_TAGGED = (GEOMETRYCOLLECTION, MULTICURVE)

_LE = 1  # little-endian byte-order marker; we always emit LE


def iso_type(base: int, z: bool = False, m: bool = False) -> int:
    """ISO WKB type id: +1000 Z, +2000 M, +3000 ZM (ogr_core.h:405+)."""
    return base + (3000 if (z and m) else 1000 if z else 2000 if m else 0)


def decode_type(raw: int):
    """raw header type -> (base, has_z, has_m); accepts ISO offsets
    and the 0x80000000 wkb25DBit."""
    z = bool(raw & WKB25D)
    raw &= 0x3FFFFFFF
    level, base = divmod(raw, 1000)
    return base, z or level in (1, 3), level in (2, 3)


def wkb_point(x: float, y: float, z: float | None = None,
              m: float | None = None) -> bytes:
    t = iso_type(POINT, z is not None, m is not None)
    vals = [v for v in (x, y, z, m) if v is not None]
    return struct.pack(f"<BI{len(vals)}d", _LE, t, *vals)


def _pack_ring(ring) -> bytes:
    a = np.ascontiguousarray(np.asarray(ring, dtype="<f8"))
    return struct.pack("<I", a.shape[0]) + a.tobytes()


def _dims_of(coords, z: bool, m: bool) -> None:
    w = np.asarray(coords).shape[-1]
    if w != 2 + int(z) + int(m):
        raise ValueError(f"coords have {w} columns, z={z} m={m} expects "
                         f"{2 + int(z) + int(m)}")


def wkb_linestring(coords, z: bool = False, m: bool = False) -> bytes:
    _dims_of(coords, z, m)
    return struct.pack("<BI", _LE, iso_type(LINESTRING, z, m)) + _pack_ring(coords)


def wkb_circularstring(coords, z: bool = False, m: bool = False) -> bytes:
    """CircularString WKB (type 8, ogr_core.h:422): arc triples, same
    body layout as LineString."""
    _dims_of(coords, z, m)
    return struct.pack("<BI", _LE, iso_type(CIRCULARSTRING, z, m)) + _pack_ring(coords)


def _rings_body(rings) -> bytes:
    return struct.pack("<I", len(rings)) + b"".join(_pack_ring(r) for r in rings)


def wkb_polygon(rings, z: bool = False, m: bool = False) -> bytes:
    """rings: [outer, hole1, ...], each (M, 2+z+m); rings are closed
    as-is (caller must pass first==last, as OGRLinearRing::closeRings
    does)."""
    if rings:
        _dims_of(rings[0], z, m)
    return struct.pack("<BI", _LE, iso_type(POLYGON, z, m)) + _rings_body(rings)


def wkb_triangle(rings, z: bool = False, m: bool = False) -> bytes:
    """Triangle WKB (type 17, ogr_geometry.h:3324+): Polygon layout."""
    return struct.pack("<BI", _LE, iso_type(TRIANGLE, z, m)) + _rings_body(rings)


def wkb_multipoint(points, z: bool = False, m: bool = False) -> bytes:
    # member headers must honor the container's z/m flags — a bare
    # positional splat would tag an M-only point's third ordinate as Z
    # (2001 PointM vs 1001 PointZ on the wire)
    def _pt(p) -> bytes:
        vals = [float(v) for v in p]
        i = 2
        zv = mv = None
        if z:
            zv = vals[i]
            i += 1
        if m:
            mv = vals[i]
        return wkb_point(vals[0], vals[1], zv, mv)

    body = struct.pack("<I", len(points)) + b"".join(_pt(p) for p in points)
    return struct.pack("<BI", _LE, iso_type(MULTIPOINT, z, m)) + body


def wkb_multilinestring(lines, z: bool = False, m: bool = False) -> bytes:
    body = struct.pack("<I", len(lines)) + b"".join(
        wkb_linestring(ln, z, m) for ln in lines)
    return struct.pack("<BI", _LE, iso_type(MULTILINESTRING, z, m)) + body


def wkb_geom_type(data: bytes) -> int:
    """Read just the raw geometry-type id from the 5-byte WKB header
    (cheap dispatch; no payload parse).  May carry Z/M offsets — use
    wkb_flat_type for the base type."""
    order = data[0]
    return struct.unpack_from("<I" if order == 1 else ">I", data, 1)[0]


def wkb_flat_type(data: bytes) -> int:
    """Base (2-D) geometry type from the header, Z/M flags stripped —
    OGR's wkbFlatten over the wire type."""
    return decode_type(wkb_geom_type(data))[0]


def wkb_multicurve(parts, z: bool = False, m: bool = False) -> bytes:
    """MultiCurve WKB (type 11): parts are (gtype, coords) pairs with
    gtype in {LINESTRING, CIRCULARSTRING}."""
    body = struct.pack("<I", len(parts))
    for gtype, coords in parts:
        if gtype == LINESTRING:
            body += wkb_linestring(coords, z, m)
        elif gtype == CIRCULARSTRING:
            body += wkb_circularstring(coords, z, m)
        else:
            raise ValueError(f"unsupported MultiCurve part {gtype}")
    return struct.pack("<BI", _LE, iso_type(MULTICURVE, z, m)) + body


def wkb_multipolygon(polys, z: bool = False, m: bool = False) -> bytes:
    body = struct.pack("<I", len(polys)) + b"".join(
        wkb_polygon(p, z, m) for p in polys)
    return struct.pack("<BI", _LE, iso_type(MULTIPOLYGON, z, m)) + body


def wkb_collection(wkbs, base: int = GEOMETRYCOLLECTION,
                   z: bool = False, m: bool = False) -> bytes:
    """GeometryCollection(7) / PolyhedralSurface(15) / TIN(16) WKB
    from pre-encoded member blobs — composable with every writer
    above (ogr/ogr_geometry.h:2959 for GC, :3324+ for PS/TIN)."""
    body = struct.pack("<I", len(wkbs)) + b"".join(bytes(w) for w in wkbs)
    return struct.pack("<BI", _LE, iso_type(base, z, m)) + body


# the part types each homogeneous collection may hold (a corrupt part
# type is refused here, not by a TypeError later); GeometryCollection
# takes any part
_PART_TYPES = {
    MULTIPOINT: (POINT,), MULTILINESTRING: (LINESTRING,),
    MULTIPOLYGON: (POLYGON,), POLYHEDRALSURFACE: (POLYGON, TRIANGLE),
    TIN: (POLYGON, TRIANGLE), MULTICURVE: (LINESTRING, CIRCULARSTRING),
}
_MAX_DEPTH = 32  # collection nesting, as OGR's recursion limit


def _read_header(buf: memoryview, off: int):
    if off + 5 > len(buf):
        raise ValueError(f"truncated WKB header at byte {off}")
    bo = buf[off]
    if bo > 1:
        raise ValueError(f"bad WKB byte-order marker {bo} at byte {off}")
    fmt = "<I" if bo == 1 else ">I"
    (raw,) = struct.unpack_from(fmt, buf, off + 1)
    base, z, m = decode_type(raw)
    return bo == 1, base, z, m, off + 5


def parse_wkb(data: bytes):
    """Parse WKB -> (base_type, payload), coordinates PROJECTED to 2-D.

    Point -> (1, (x, y)); LineString -> (2, ndarray (M,2));
    Polygon/Triangle -> (t, [ndarray ring, ...]); Multi*/PS/TIN ->
    (t, [parts...]); GeometryCollection/MultiCurve -> (t, [(part_type,
    part_payload), ...]).  Z/M inputs parse fine and lose the extra
    ordinates here — use parse_wkb_full to keep them.
    """
    base, _z, _m, payload = parse_wkb_full(data)
    return base, _project2d(base, payload)


def parse_wkb_full(data: bytes):
    """Parse WKB -> (base_type, has_z, has_m, payload) with FULL-width
    coordinates: each vertex carries 2+z+m ordinates in (x, y, z, m)
    order, exactly as OGRGeometryFactory::createFromWkb reads them.

    Malformed input of any kind raises ``ValueError``."""
    try:
        (base, z, m, payload), _ = _parse_at(memoryview(data), 0)
    except struct.error as exc:  # a count or coordinate past the end
        raise ValueError(f"truncated WKB: {exc}") from None
    return base, z, m, payload


def _project2d(base, payload):
    if base == POINT:
        return payload[:2]
    if base in (LINESTRING, CIRCULARSTRING):
        return payload[:, :2]
    if base in (POLYGON, TRIANGLE):
        return [r[:, :2] for r in payload]
    if base in _TAGGED:
        return [(t, _project2d(t, p)) for t, p in payload]
    if base == MULTIPOINT:
        return [p[:2] for p in payload]
    if base == MULTILINESTRING:
        return [p[:, :2] for p in payload]
    # MultiPolygon / PolyhedralSurface / TIN: list of ring lists
    return [[r[:, :2] for r in poly] for poly in payload]


def _parse_at(buf: memoryview, off: int, depth: int = 0):
    le, base, z, m, off = _read_header(buf, off)
    bo = "<" if le else ">"
    dims = 2 + int(z) + int(m)
    step = 8 * dims
    if base == POINT:
        vals = struct.unpack_from(bo + "d" * dims, buf, off)
        return (base, z, m, vals), off + step
    if base in (LINESTRING, CIRCULARSTRING):
        (n,) = struct.unpack_from(bo + "I", buf, off)
        a = np.frombuffer(buf, dtype=bo + "f8", count=dims * n, offset=off + 4)
        return (base, z, m, a.reshape(n, dims).astype(np.float64)), \
            off + 4 + step * n
    if base in (POLYGON, TRIANGLE):
        (nr,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(bo + "I", buf, off)
            a = np.frombuffer(buf, dtype=bo + "f8", count=dims * n,
                              offset=off + 4)
            rings.append(a.reshape(n, dims).astype(np.float64))
            off += 4 + step * n
        return (base, z, m, rings), off
    if base in _PART_TYPES or base == GEOMETRYCOLLECTION:
        if depth >= _MAX_DEPTH:
            raise ValueError(f"WKB collections nested over {_MAX_DEPTH} deep")
        (np_,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        parts = []
        for _ in range(np_):
            (pb, _pz, _pm, pp), off = _parse_at(buf, off, depth + 1)
            if pb not in _PART_TYPES.get(base, (pb,)):
                raise ValueError(f"WKB type {base} holds a type {pb} part")
            # GC and MultiCurve parts keep their own type tag (GC members
            # are heterogeneous; MultiCurve mixes Line- and CircularString)
            parts.append((pb, pp) if base in _TAGGED else pp)
        return (base, z, m, parts), off
    raise ValueError(f"unsupported WKB geometry type {base}")


def wkb_bbox(data: bytes):
    """(minx, miny, maxx, maxy) scanned from WKB coords — the
    no-deserialize envelope of OGRWKBGetBoundingBox (ogr_wkb.h:30-34).
    None for an EMPTY geometry (no vertex, or POINT EMPTY's NaN x and
    y): every reader gives such a feature a NULL bbox."""
    gtype, payload = parse_wkb(data)
    if gtype == POINT:
        x, y = payload
        return None if np.isnan(x) and np.isnan(y) else (x, y, x, y)
    coords = _all_coords(gtype, payload)
    if not len(coords):
        return None
    mn = coords.min(axis=0)
    mx = coords.max(axis=0)
    return float(mn[0]), float(mn[1]), float(mx[0]), float(mx[1])


def _stack(parts) -> np.ndarray:
    """Vertices of several parts as one (N, 2) array; (0, 2) for none."""
    return np.vstack(parts) if len(parts) else np.empty((0, 2))


def _all_coords(gtype, payload):
    if gtype == POINT:
        return np.array([payload], dtype=np.float64)
    if gtype in (LINESTRING, CIRCULARSTRING):
        return payload
    if gtype in (POLYGON, TRIANGLE):
        return _stack(payload)
    if gtype in _TAGGED:                  # GC / MultiCurve: tagged parts
        return _stack([_all_coords(t, p) for t, p in payload])
    # multi* / PolyhedralSurface / TIN
    parts = []
    for p in payload:
        if isinstance(p, tuple):          # multipoint part
            parts.append(np.array([p], dtype=np.float64))
        elif isinstance(p, list):         # multipolygon/PS/TIN part
            parts.append(_stack(p))
        else:
            parts.append(p)
    return _stack(parts)


def polygon_rings(data: bytes):
    """Rings of a Polygon/Triangle/MultiPolygon/PolyhedralSurface/TIN
    WKB as [ndarray (M,2), ...] (multi-part rings concatenated; first
    ring of each part is its outer ring)."""
    gtype, payload = parse_wkb(data)
    if gtype in (POLYGON, TRIANGLE):
        return payload
    if gtype in (MULTIPOLYGON, POLYHEDRALSURFACE, TIN):
        return [r for poly in payload for r in poly]
    raise ValueError(f"not a polygon WKB (type {gtype})")


def parse_wkt_point(wkt: str):
    """'POINT(x y)' -> (x, y); the docs fixture stores geo spans this way."""
    inner = wkt[wkt.index("(") + 1:wkt.rindex(")")]
    xs, ys = inner.split()
    return float(xs), float(ys)


def _wkt_coord_groups(body: str):
    """Split a WKT body into paren-nested coordinate groups at depth
    >= 1: 'POLYGON((a),(b))' body -> [pts_a, pts_b]."""
    groups = []
    depth = 0
    cur = ""
    for ch in body:
        if ch == "(":
            depth += 1
            cur = ""
        elif ch == ")":
            depth -= 1
            if cur.strip():
                pts = [tuple(map(float, t.split()))
                       for t in cur.split(",") if t.strip()]
                groups.append(np.array(pts, dtype=np.float64))
            cur = ""
        elif depth:
            cur += ch
    return groups


# ``<kind> EMPTY`` WKT -> WKB; POINT EMPTY is NaN x and y, as OGR writes it
_EMPTY_WKT = {
    "POINT EMPTY": lambda: wkb_point(math.nan, math.nan),
    "LINESTRING EMPTY": lambda: wkb_linestring(np.empty((0, 2))),
    "POLYGON EMPTY": lambda: wkb_polygon([]),
    "MULTIPOINT EMPTY": lambda: wkb_multipoint([]),
    "MULTILINESTRING EMPTY": lambda: wkb_multilinestring([]),
    "MULTIPOLYGON EMPTY": lambda: wkb_multipolygon([]),
}


def wkt_to_wkb(wkt: str) -> bytes:
    """2-D WKT (POINT, LINESTRING, POLYGON and their MULTI forms, each
    also as ``<kind> EMPTY``) -> WKB; ``ValueError`` for any other
    text."""
    w = wkt.strip()
    up = w.upper()
    empty = _EMPTY_WKT.get(" ".join(up.split()))
    if empty is not None:
        return empty()
    if "(" not in w:
        raise ValueError(f"unsupported WKT: {w[:30]}")
    body = w[w.index("("):w.rindex(")") + 1]
    if up.startswith("POINT"):
        return wkb_point(*parse_wkt_point(w))
    if up.startswith("MULTIPOINT"):
        inner = body[1:-1]
        if "(" in inner:     # MULTIPOINT((1 2),(3 4)) form
            pts = np.vstack(_wkt_coord_groups(body[1:-1])) \
                if inner.strip() else np.empty((0, 2))
        else:                # MULTIPOINT(1 2, 3 4) form
            pts = np.array([tuple(map(float, t.split()))
                            for t in inner.split(",") if t.strip()])
        return wkb_multipoint([tuple(p) for p in pts])
    if up.startswith("LINESTRING"):
        inner = body[1:-1]
        pts = np.array([tuple(map(float, t.split()))
                        for t in inner.split(",") if t.strip()])
        return wkb_linestring(pts)
    if up.startswith("MULTILINESTRING"):
        return wkb_multilinestring(_wkt_coord_groups(body[1:-1]))
    if up.startswith("POLYGON"):
        return wkb_polygon(_wkt_coord_groups(body[1:-1]))
    if up.startswith("MULTIPOLYGON"):
        # split top-level polygon groups, each with its own rings
        polys = []
        depth = 0
        start = None
        inner = body[1:-1]
        for i, ch in enumerate(inner):
            if ch == "(":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    polys.append(_wkt_coord_groups(inner[start:i + 1]))
        return wkb_multipolygon(polys)
    raise ValueError(f"unsupported WKT: {w[:30]}")
