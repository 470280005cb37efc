"""Z/M/ZM + GeometryCollection/PolyhedralSurface/TIN WKB codec
(kernels/wkb.py) — ISO +1000/+2000/+3000 offsets and the old-style
wkb25DBit, per ogr/ogr_core.h:405-519 and
ogrgeometryfactory.cpp:89-134 (OGRReadWKBGeometryType)."""

import struct

import numpy as np
import pytest

from gdal_spark.kernels import wkb as kw


def test_iso_type_offsets():
    # ogr_core.h: wkbPointZ=1001 wkbPointM=2001 wkbPointZM=3001
    assert kw.iso_type(kw.POINT) == 1
    assert kw.iso_type(kw.POINT, z=True) == 1001
    assert kw.iso_type(kw.POINT, m=True) == 2001
    assert kw.iso_type(kw.POINT, z=True, m=True) == 3001
    assert kw.iso_type(kw.CIRCULARSTRING, z=True) == 1008  # :447


def test_decode_type_iso_and_25dbit():
    assert kw.decode_type(1003) == (kw.POLYGON, True, False)
    assert kw.decode_type(2005) == (kw.MULTILINESTRING, False, True)
    assert kw.decode_type(3016) == (kw.TIN, True, True)
    # old-style 2.5-D: 0x80000000 | 2 == LineString25D
    assert kw.decode_type(0x80000000 | 2) == (kw.LINESTRING, True, False)


@pytest.mark.parametrize("z,m", [(False, False), (True, False),
                                 (False, True), (True, True)])
def test_point_roundtrip_all_dims(z, m):
    vals = [1.5, -2.25] + ([7.0] if z else []) + ([42.0] if m else [])
    blob = kw.wkb_point(1.5, -2.25, 7.0 if z else None, 42.0 if m else None)
    base, hz, hm, payload = kw.parse_wkb_full(blob)
    assert (base, hz, hm) == (kw.POINT, z, m)
    assert list(payload) == vals
    # 2-D projection keeps working
    t2, p2 = kw.parse_wkb(blob)
    assert t2 == kw.POINT and list(p2) == [1.5, -2.25]


@pytest.mark.parametrize("z,m", [(True, False), (False, True), (True, True)])
def test_linestring_polygon_roundtrip(z, m):
    dims = 2 + z + m
    ls = np.arange(12, dtype=np.float64).reshape(-1, dims)[:12 // dims * 0
                                                           + (12 // dims)]
    ls = np.arange(4 * dims, dtype=np.float64).reshape(4, dims)
    blob = kw.wkb_linestring(ls, z=z, m=m)
    base, hz, hm, p = kw.parse_wkb_full(blob)
    assert (base, hz, hm) == (kw.LINESTRING, z, m)
    np.testing.assert_array_equal(p, ls)

    ring = np.vstack([ls, ls[:1]])
    pb = kw.wkb_polygon([ring], z=z, m=m)
    base, hz, hm, rings = kw.parse_wkb_full(pb)
    assert (base, hz, hm) == (kw.POLYGON, z, m)
    np.testing.assert_array_equal(rings[0], ring)
    # projected rings still feed the 2-D kernels
    assert kw.polygon_rings(pb)[0].shape == (5, 2)


def test_dims_mismatch_raises():
    with pytest.raises(ValueError, match="columns"):
        kw.wkb_linestring(np.zeros((3, 2)), z=True)


def test_wkb25dbit_parses_as_z():
    coords = np.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])
    blob = kw.wkb_linestring(coords, z=True)
    # rewrite header with the old-style flag instead of ISO 1002
    old = blob[:1] + struct.pack("<I", 0x80000000 | kw.LINESTRING) + blob[5:]
    base, hz, hm, p = kw.parse_wkb_full(old)
    assert (base, hz, hm) == (kw.LINESTRING, True, False)
    np.testing.assert_array_equal(p, coords)


def test_geometrycollection_roundtrip_tagged():
    pt = kw.wkb_point(1.0, 2.0)
    ls = kw.wkb_linestring(np.array([[0.0, 0.0], [3.0, 4.0]]))
    poly = kw.wkb_polygon([np.array([[0, 0], [1, 0], [0, 1], [0, 0]],
                                    dtype=np.float64)])
    gc = kw.wkb_collection([pt, ls, poly])
    base, hz, hm, parts = kw.parse_wkb_full(gc)
    assert base == kw.GEOMETRYCOLLECTION and not hz and not hm
    assert [t for t, _ in parts] == [kw.POINT, kw.LINESTRING, kw.POLYGON]
    # nested GC inside GC parses too
    gc2 = kw.wkb_collection([gc, pt])
    b2, _, _, parts2 = kw.parse_wkb_full(gc2)
    assert parts2[0][0] == kw.GEOMETRYCOLLECTION
    assert kw.wkb_bbox(gc2) == (0.0, 0.0, 3.0, 4.0)


def test_tin_polyhedralsurface_triangle():
    tri1 = [np.array([[0, 0, 0], [1, 0, 0], [0, 1, 0], [0, 0, 0]],
                     dtype=np.float64)]
    tri2 = [np.array([[1, 0, 0], [1, 1, 0], [0, 1, 1], [1, 0, 0]],
                     dtype=np.float64)]
    t1 = kw.wkb_triangle(tri1, z=True)
    t2 = kw.wkb_triangle(tri2, z=True)
    tin = kw.wkb_collection([t1, t2], base=kw.TIN, z=True)
    base, hz, _, parts = kw.parse_wkb_full(tin)
    assert base == kw.TIN and hz and len(parts) == 2
    np.testing.assert_array_equal(parts[1][0], tri2[0])
    # rings concatenate like MultiPolygon for the 2-D kernels
    assert len(kw.polygon_rings(tin)) == 2
    assert kw.wkb_flat_type(tin) == kw.TIN
    assert kw.wkb_geom_type(tin) == 1016

    ps = kw.wkb_collection(
        [kw.wkb_polygon(tri1, z=True)], base=kw.POLYHEDRALSURFACE, z=True)
    base, hz, _, parts = kw.parse_wkb_full(ps)
    assert base == kw.POLYHEDRALSURFACE and hz and len(parts) == 1


def test_multis_z_roundtrip():
    mp = kw.wkb_multipoint([(1.0, 2.0, 9.0), (3.0, 4.0, 8.0)], z=True)
    base, hz, _, pts = kw.parse_wkb_full(mp)
    assert base == kw.MULTIPOINT and hz
    assert [p[2] for p in pts] == [9.0, 8.0]

    parts = [np.array([[0, 0, 1], [1, 1, 2]], dtype=np.float64)]
    ml = kw.wkb_multilinestring(parts, z=True)
    base, hz, _, got = kw.parse_wkb_full(ml)
    assert base == kw.MULTILINESTRING and hz
    np.testing.assert_array_equal(got[0], parts[0])

    ring = np.array([[0, 0, 5], [2, 0, 5], [0, 2, 5], [0, 0, 5]],
                    dtype=np.float64)
    mpoly = kw.wkb_multipolygon([[ring]], z=True)
    base, hz, _, polys = kw.parse_wkb_full(mpoly)
    assert base == kw.MULTIPOLYGON and hz
    np.testing.assert_array_equal(polys[0][0], ring)
    # projected multi rings
    assert kw.polygon_rings(mpoly)[0].shape == (4, 2)


def test_bbox_ignores_z_m():
    ls = np.array([[1.0, 2.0, 100.0], [3.0, -4.0, -100.0]])
    blob = kw.wkb_linestring(ls, z=True)
    assert kw.wkb_bbox(blob) == (1.0, -4.0, 3.0, 2.0)


def test_explode_preserves_m_only_point(spark):
    """M-only (2001) multipoint parts keep their M tag through
    explode's parse->re-encode (regression: positional splat turned
    M into Z)."""
    from pyspark.sql import Row
    from gdal_spark.operators.geometry import explode_collections
    mp = kw.wkb_multipoint([(1.0, 2.0, 42.0), (3.0, 4.0, 43.0)], m=True)
    df = spark.createDataFrame([Row(doc_id=1, wkb=bytearray(mp))])
    rows = explode_collections(df).orderBy("part").collect()
    assert len(rows) == 2
    for i, r in enumerate(rows):
        base, hz, hm, p = kw.parse_wkb_full(bytes(r["wkb"]))
        assert (base, hz, hm) == (kw.POINT, False, True)
        assert p[2] == 42.0 + i
        assert r["z0"] is None   # M is not Z


def test_circularstring_zm_roundtrip():
    """Curved member ZM roundtrip (wkbCircularStringZM, type 3008 —
    ogr_core.h:512): all four ordinates survive encode -> parse."""
    cs = np.array([[0, 0, 1, 9], [1, 1, 2, 8], [2, 0, 3, 7]], float)
    blob = kw.wkb_circularstring(cs, z=True, m=True)
    base, hz, hm, payload = kw.parse_wkb_full(blob)
    assert base == kw.CIRCULARSTRING and hz and hm
    np.testing.assert_array_equal(payload, cs)
    # header tag is the ISO +3000 id
    import struct
    (raw,) = struct.unpack_from("<I", blob, 1)
    assert raw == 3008


def test_multicurve_zm_tagged_parts():
    """MultiCurveZM (3011) keeps each member's own ZM tag + ordinates."""
    ls = np.array([[0, 0, 1, 2], [3, 4, 5, 6]], float)
    cs = np.array([[0, 0, 1, 9], [1, 1, 2, 8], [2, 0, 3, 7]], float)
    blob = kw.wkb_multicurve(
        [(kw.LINESTRING, ls), (kw.CIRCULARSTRING, cs)], z=True, m=True)
    base, hz, hm, parts = kw.parse_wkb_full(blob)
    assert base == kw.MULTICURVE and hz and hm
    (t0, p0), (t1, p1) = parts
    assert t0 == kw.LINESTRING and t1 == kw.CIRCULARSTRING
    np.testing.assert_array_equal(p0, ls)
    np.testing.assert_array_equal(p1, cs)


def test_batch_measures_ignore_zm():
    """Length/area/centroid over ZM blobs must equal the same
    geometry's 2-D values — the strided chain decode may not let the
    extra ordinates leak into the planar math."""
    from gdal_spark.kernels import batch_measures as bm
    ls2 = np.array([[0, 0], [3, 4]], float)
    lszm = np.array([[0, 0, 7, 1], [3, 4, 8, 2]], float)
    ring2 = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], float)
    ringzm = np.hstack([ring2, np.full((5, 1), 5.0), np.full((5, 1), 6.0)])
    blobs2 = [kw.wkb_linestring(ls2), kw.wkb_polygon([ring2])]
    blobszm = [kw.wkb_linestring(lszm, z=True, m=True),
               kw.wkb_polygon([ringzm], z=True, m=True)]
    np.testing.assert_allclose(bm.batch_length(blobszm),
                               bm.batch_length(blobs2))
    np.testing.assert_allclose(bm.batch_area(blobszm),
                               bm.batch_area(blobs2))
    np.testing.assert_allclose(bm.batch_bbox(blobszm),
                               bm.batch_bbox(blobs2))
    cx, cy, ok = bm.batch_centroid(blobszm)
    cx2, cy2, ok2 = bm.batch_centroid(blobs2)
    np.testing.assert_allclose([cx, cy], [cx2, cy2])
    np.testing.assert_array_equal(ok, ok2)


def test_explode_zm_multicurve_parts(spark):
    """explode_collections over a MultiCurveZM: curved + straight
    members each emit a part whose WKB still carries Z AND M."""
    from gdal_spark.operators.geometry import explode_collections
    ls = np.array([[0, 0, 1, 2], [3, 4, 5, 6]], float)
    cs = np.array([[10, 0, 1, 9], [11, 1, 2, 8], [12, 0, 3, 7]], float)
    blob = kw.wkb_multicurve(
        [(kw.LINESTRING, ls), (kw.CIRCULARSTRING, cs)], z=True, m=True)
    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, wkb binary")
    rows = explode_collections(df).orderBy("part").collect()
    assert [r.gtype for r in rows] == [kw.LINESTRING, kw.CIRCULARSTRING]
    for r, src in zip(rows, (ls, cs)):
        base, hz, hm, payload = kw.parse_wkb_full(bytes(r.wkb))
        assert hz and hm
        np.testing.assert_array_equal(payload, src)


# ---- hostile input: ValueError only, allocation bounded -------------------
def _holed_square():
    ring = lambda *xy: np.array(xy, dtype=np.float64)  # noqa: E731
    return kw.wkb_polygon([ring((0, 0), (10, 0), (10, 10), (0, 10), (0, 0)),
                           ring((2, 2), (3, 2), (3, 3), (2, 2))])


@pytest.mark.parametrize("parse", [kw.parse_wkb_full, kw.parse_wkb,
                                   kw.wkb_bbox, kw.polygon_rings],
                         ids=lambda f: f.__name__)
def test_wkb_hostile_input_raises_value_error_with_bounded_allocation(
        hostile_contract, parse):
    hostile_contract(parse, _holed_square(), seed=7, head=32, slack=16 * 1024)


@pytest.mark.parametrize("blob", [
    kw.wkb_multipolygon([[np.zeros((4, 2))], [np.ones((4, 2))]]),
    kw.wkb_multipoint([(1.0, 2.0), (3.0, 4.0)]),
    kw.wkb_collection([kw.wkb_point(1, 2), kw.wkb_linestring(np.zeros((2, 2))),
                       _holed_square()]),
], ids=["multipolygon", "multipoint", "collection"])
def test_wkb_collection_mutants_raise_value_error(hostile_contract, blob):
    """A mutated part header (wrong part type, byte order or length)
    is refused as ValueError, never IndexError or TypeError."""
    hostile_contract(kw.wkb_bbox, blob, seed=11, head=32, slack=16 * 1024)


def test_wkb_part_types_and_nesting_are_checked():
    bad_part = kw.wkb_multipoint([(1.0, 2.0)])[:9] + kw.wkb_linestring(
        np.zeros((2, 2)))
    with pytest.raises(ValueError, match="holds a type 2 part"):
        kw.parse_wkb(bad_part)
    deep = kw.wkb_point(0, 0)
    for _ in range(40):
        deep = kw.wkb_collection([deep])
    with pytest.raises(ValueError, match="nested"):
        kw.parse_wkb(deep)
    with pytest.raises(ValueError, match="byte-order"):
        kw.parse_wkb(b"\x02" + kw.wkb_point(0, 0)[1:])


def test_wkb_huge_part_count_raises_before_allocating():
    import tracemalloc

    blob = struct.pack("<BII", 1, kw.MULTIPOLYGON, 1 << 28)
    tracemalloc.start()
    try:
        with pytest.raises(ValueError):
            kw.parse_wkb_full(blob)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 64 * 1024


# ---- EMPTY geometries: NULL bbox, WKB EMPTY --------------------------------
@pytest.mark.parametrize("wkt", [
    "POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY", "MULTIPOINT EMPTY",
    "MULTILINESTRING EMPTY", " multipolygon  Empty "])
def test_empty_wkt_gives_empty_wkb_with_null_bbox(wkt):
    blob = kw.wkt_to_wkb(wkt)
    base, _payload = kw.parse_wkb(blob)
    assert base == {"POINT": kw.POINT, "LINESTRING": kw.LINESTRING,
                    "POLYGON": kw.POLYGON, "MULTIPOINT": kw.MULTIPOINT,
                    "MULTILINESTRING": kw.MULTILINESTRING,
                    "MULTIPOLYGON": kw.MULTIPOLYGON}[wkt.split()[0].upper()]
    assert kw.wkb_bbox(blob) is None


def test_empty_geometries_have_null_bbox():
    for blob in (kw.wkb_linestring(np.empty((0, 2))), kw.wkb_polygon([]),
                 kw.wkb_polygon([np.empty((0, 2))]), kw.wkb_collection([]),
                 kw.wkb_multipolygon([[]]), kw.wkb_point(np.nan, np.nan)):
        assert kw.wkb_bbox(blob) is None
    # one empty part does not hide the others
    assert kw.wkb_bbox(kw.wkb_collection([
        kw.wkb_polygon([]), kw.wkb_point(1.0, -2.0)])) == (1.0, -2.0, 1.0, -2.0)
    with pytest.raises(ValueError, match="unsupported WKT"):
        kw.wkt_to_wkb("TRIANGLE EMPTY")
