"""Kernel unit tests: vectorized kernels vs independent scalar oracles.

The scalar oracles here are direct per-element transliterations of the
cited reference routines; the production kernels are vectorized numpy.
Agreement between the two (plus frozen semantic goldens lifted from
the reference's autotest values) is the bit-match gate of BASELINE.md.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from gdal_spark.kernels import checksum as ck
from gdal_spark.kernels import cells, geom, hilbert, pip, rasterize, wkb
from reference_twins import winding_number


# ---------------------------------------------------------------- hilbert
def _hilbert_xy2d_classic(order, x, y):
    """Independent oracle: classic iterative xy->d (Wikipedia/Hamilton)."""
    rx = ry = 0
    d = 0
    s = order // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        # rotate
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_classic_curve():
    rng = np.random.RandomState(42)
    xs = rng.randint(0, 1 << 16, size=500).astype(np.uint32)
    ys = rng.randint(0, 1 << 16, size=500).astype(np.uint32)
    got = hilbert.hilbert_u32(xs, ys)
    want = np.array(
        [_hilbert_xy2d_classic(1 << 16, int(x), int(y)) for x, y in zip(xs, ys)],
        dtype=np.uint32,
    )
    assert np.array_equal(got, want)


def test_hilbert_locality_is_bijective_on_subgrid():
    n = 64
    xs, ys = np.meshgrid(np.arange(n, dtype=np.uint32), np.arange(n, dtype=np.uint32))
    vals = hilbert.hilbert_u32(xs.ravel(), ys.ravel())
    assert len(np.unique(vals)) == n * n


def test_hilbert_world_mapping_degenerate_extent():
    v = hilbert.hilbert_of_xy_f64([5.0], [5.0], 0.0, 0.0, 0.0, 10.0)
    assert v.shape == (1,)  # width==0 -> gx=0, no crash (packedrtree.cpp:137)


# ---------------------------------------------------------------- ray cast
def _is_point_in_ring_scalar(tx, ty, ring):
    """Transliteration of ogrlinearring.cpp:462-532 (per point)."""
    n = len(ring)
    if n < 4:
        return False
    crossings = 0
    prev_x = ring[0][0] - tx
    prev_y = ring[0][1] - ty
    for i in range(1, n):
        x1 = ring[i][0] - tx
        y1 = ring[i][1] - ty
        x2, y2 = prev_x, prev_y
        if ((y1 > 0) and (y2 <= 0)) or ((y2 > 0) and (y1 <= 0)):
            inter = (x1 * y2 - x2 * y1) / (y2 - y1)
            if inter > 0.0:
                crossings += 1
        prev_x, prev_y = x1, y1
    return crossings % 2 == 1


TRIANGLE = np.array([[0, 0], [10, 10], [10, 0], [0, 0]], dtype=float)
BIG = np.array([[-90, -90], [-90, 90], [190, -90], [-90, -90]], dtype=float)


def test_pip_semantic_goldens():
    # centroid of TRIANGLE inside; mirrors ogr_geos.py:199-228 containment
    px = np.array([20.0 / 3, -1.0, 5.0, 50.0])
    py = np.array([10.0 / 3, 5.0, 2.0, 50.0])
    got = pip.points_in_ring(px, py, TRIANGLE)
    assert got.tolist() == [True, False, True, False]
    # triangle vertices are inside BIG (Within(poly, big) == true golden)
    got2 = pip.points_in_ring(TRIANGLE[:3, 0], TRIANGLE[:3, 1], BIG)
    assert got2.all()
    # BIG's vertex (190,-90) is NOT in TRIANGLE (reverse golden == false)
    assert not pip.points_in_ring([190.0], [-90.0], TRIANGLE)[0]


def test_pip_matches_scalar_reference_on_random_and_edge_points():
    rng = np.random.RandomState(7)
    ring = np.array(
        [[0, 0], [4, 0], [4, 4], [2, 6], [0, 4], [0, 0]], dtype=float)
    # random points + exact vertices + edge midpoints + boundary grid
    pts = [(rng.uniform(-1, 7), rng.uniform(-1, 7)) for _ in range(300)]
    pts += [tuple(v) for v in ring]
    pts += [tuple((ring[i] + ring[i + 1]) / 2) for i in range(len(ring) - 1)]
    pts += [(x, 0.0) for x in np.linspace(-1, 5, 13)]
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    got = pip.points_in_ring(px, py, ring, test_envelope=False)
    want = np.array([_is_point_in_ring_scalar(x, y, ring) for x, y in pts])
    assert np.array_equal(got, want)


def test_pip_envelope_pretest():
    # envelope pretest must reject points outside bbox even if the ray
    # cast would be odd (cannot happen geometrically, but the pretest
    # is part of the contract: ogrlinearring.cpp:487-497)
    got = pip.points_in_ring([100.0], [5.0], TRIANGLE, test_envelope=True)
    assert not got[0]


def test_pip_polygon_with_hole():
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], float)
    px = np.array([5.0, 2.0, 11.0])
    py = np.array([5.0, 2.0, 5.0])
    got = pip.points_in_polygon(px, py, [outer, hole])
    assert got.tolist() == [False, True, False]


def test_winding_number_agrees_with_raycast_interior():
    rng = np.random.RandomState(3)
    ring = np.array([[0, 0], [8, 1], [7, 7], [1, 6], [0, 0]], float)
    px = rng.uniform(-2, 10, 500)
    py = rng.uniform(-2, 10, 500)
    wn = winding_number(px, py, ring) != 0
    rc = pip.points_in_ring(px, py, ring, test_envelope=False)
    # agree away from the boundary (boundary treatment differs by design)
    d = np.minimum.reduce([
        np.sqrt(geom.point_segment_dist2(px, py, *ring[i], *ring[i + 1]))
        for i in range(len(ring) - 1)
    ])
    off = d > 1e-9
    assert np.array_equal(wn[off], rc[off])


# ---------------------------------------------------------------- checksum
def _checksum_scalar(pix):
    """Transliteration of gdalchecksum.cpp:223-233 (int path, per line
    mask) — independent of the vectorized end-mask implementation."""
    primes = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
    h, w = pix.shape
    cs = 0
    ip = 0
    for r in range(h):
        for c in range(w):
            v = int(pix[r, c])
            cs += int(math.fmod(v, primes[ip]))
            ip = (ip + 1) % 11
            cs &= 0xFFFF
    return cs


def test_checksum_grid20_golden():
    # FIXTURES.md §4 grid20: px[r*20+c] = (r*20+c)*7 % 256
    px = (np.arange(400, dtype=np.int64) * 7 % 256).reshape(20, 20).astype(np.uint8)
    got = ck.checksum(px)
    assert got == _checksum_scalar(px.astype(np.int64))
    # frozen golden (oracle-derived at fixture generation time)
    assert got == ck.GRID20_GOLDEN


def test_checksum_matches_scalar_on_random_int():
    rng = np.random.RandomState(11)
    pix = rng.randint(-500, 500, size=(13, 17)).astype(np.int64)
    assert ck.checksum(pix) == _checksum_scalar(pix)


def test_checksum_float_rules():
    # +0.5-floor rounding, clamps, NaN -> INT_MIN (gdalchecksum.cpp:66-88)
    vals = np.array([[-0.6, -0.5, -0.4, 0.4], [0.5, 2.5, -2.5, 1e12],
                     [-1e12, np.nan, np.inf, -np.inf]])
    conv = ck.float_to_int32_gdal(vals.ravel())
    assert conv.tolist() == [-1, 0, 0, 0, 1, 3, -2, 2147483647,
                             -2147483647, -2147483648, -2147483648, -2147483648]
    got = ck.checksum(vals)
    want = _checksum_scalar(conv.reshape(3, 4))
    assert got == want


# ---------------------------------------------------------------- wkb
def test_wkb_roundtrip_and_bbox():
    p = wkb.wkb_point(1.5, -2.5)
    t, (x, y) = wkb.parse_wkb(p)
    assert (t, x, y) == (wkb.POINT, 1.5, -2.5)
    assert wkb.wkb_bbox(p) == (1.5, -2.5, 1.5, -2.5)

    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], float)
    poly = wkb.wkb_polygon([ring, hole])
    t, rings = wkb.parse_wkb(poly)
    assert t == wkb.POLYGON and len(rings) == 2
    assert np.array_equal(rings[0], ring) and np.array_equal(rings[1], hole)
    assert wkb.wkb_bbox(poly) == (0.0, 0.0, 4.0, 4.0)

    mp = wkb.wkb_multipolygon([[ring], [hole + 10]])
    assert wkb.wkb_bbox(mp) == (0.0, 0.0, 12.0, 12.0)
    assert len(wkb.polygon_rings(mp)) == 2

    ls = wkb.wkb_linestring(ring[:3])
    t, coords = wkb.parse_wkb(ls)
    assert t == wkb.LINESTRING and coords.shape == (3, 2)

    assert wkb.parse_wkt_point("POINT(478500.25 4763000.5)") == (478500.25, 4763000.5)


# ---------------------------------------------------------------- cells
def test_cell_pack_roundtrip():
    z = np.array([0, 5, 15, 29])
    x = np.array([0, 17, 23456, (1 << 29) - 1])
    y = np.array([0, 31, 65535, (1 << 29) - 1])
    c = cells.pack_cell(z, x, y)
    zz, xx, yy = cells.unpack_cell(c)
    assert np.array_equal(zz, z) and np.array_equal(xx, x) and np.array_equal(yy, y)
    assert (c >= 0).all()  # sign bit never used


def test_tilegrid_webmercator_addressing():
    g = cells.TileGrid.web_mercator_quad()
    # zoom 0: single tile covers the world
    tx, ty = g.tile_xy(0, [0.0], [0.0])
    assert (tx[0], ty[0]) == (0, 0)
    # zoom 1: quadrants; (+,+) world -> tile (1, 0) in XYZ
    tx, ty = g.tile_xy(1, [1e6], [1e6])
    assert (tx[0], ty[0]) == (1, 0)
    b = g.tile_bounds(1, 1, 0)
    assert b[0] == 0.0 and b[3] == cells.WEB_MERCATOR_ORIGIN
    gt = g.geotransform(1, 1, 0)
    assert gt[0] == 0.0 and gt[1] == pytest.approx(g.resolution(1))
    assert gt[5] == pytest.approx(-g.resolution(1))


def test_tilegrid_local_and_bbox_range():
    g = cells.TileGrid.local(100.0, 200.0, 300.0, 350.0)
    assert g.span >= 200.0
    # a bbox covering ~quarter of the extent at z=2
    r = g.tile_range_for_bbox(2, 100.0, 200.0, 160.0, 260.0)
    assert r[0] == 0 and r[2] >= r[0] and r[1] <= r[3]
    # point containment: every corner maps inside its tile bounds
    tx, ty = g.tile_xy(3, [150.0], [250.0])
    mnx, mny, mxx, mxy = g.tile_bounds(3, tx[0], ty[0])
    assert mnx <= 150.0 <= mxx and mny <= 250.0 <= mxy


def test_neighbor_rings_and_disk():
    assert cells.neighbor_ring(3, 4, 4, 0) == [(4, 4)]
    r1 = cells.neighbor_ring(3, 4, 4, 1)
    assert len(r1) == 8 and all(max(abs(x - 4), abs(y - 4)) == 1 for x, y in r1)
    r2 = cells.neighbor_ring(3, 0, 0, 1)  # clipped at matrix edge
    assert len(r2) == 3
    d = cells.disk_cells(3, 4, 4, 2)
    assert len(d) == 25
    assert set(cells.neighbor_ring(3, 4, 4, 2)) == set(d) - set(cells.disk_cells(3, 4, 4, 1))


def test_parent_cell():
    c = cells.pack_cell(5, 21, 13)
    p = cells.parent_cell(c)
    z, x, y = cells.unpack_cell(p)
    assert (int(z), int(x), int(y)) == (4, 10, 6)


# ---------------------------------------------------------------- rasterize
GT = (1000.0, 1.0, 0.0, 1100.0, 0.0, -1.0)  # autotest/alg/rasterize.py grid


def test_rasterize_polygon_center_rule_golden():
    # mirror of autotest/alg/rasterize.py polygon case on 100x100 grid
    img = np.zeros((100, 100), dtype=np.float64)
    ring_world = np.array([[1020, 1030], [1020, 1045], [1050, 1045],
                           [1050, 1030], [1020, 1030]], float)
    ring_px = rasterize.world_to_pixel(ring_world, GT)
    rasterize.fill_polygon(img, [ring_px], 220.0)
    burned = np.argwhere(img == 220.0)
    # center rule: x in [20,49], y in [55,69]
    assert burned[:, 1].min() == 20 and burned[:, 1].max() == 49
    assert burned[:, 0].min() == 55 and burned[:, 0].max() == 69
    assert (img != 0).sum() == 30 * 15


def test_rasterize_merge_add_and_clamp_range():
    img = np.zeros((10, 10), dtype=np.float64)
    ring = np.array([[1, 1], [1, 8], [8, 8], [8, 1], [1, 1]], float)
    rasterize.fill_polygon(img, [ring], 100.0, merge=rasterize.MERGE_ADD)
    rasterize.fill_polygon(img, [ring], 100.0, merge=rasterize.MERGE_ADD)
    assert img.max() == 200.0  # ADD accumulates (gdalrasterize.cpp:800-818)


def test_rasterize_line_bresenham():
    img = np.zeros((100, 100), dtype=np.float64)
    line_world = np.array([[1000, 1000], [1100, 1050]], float)
    line_px = rasterize.world_to_pixel(line_world, GT)  # (0,100)->(100,50)
    rasterize.burn_line(img, line_px, 7.0)
    # the in-bounds portion of the diagonal is burned, one px per column
    cols = np.unique(np.argwhere(img == 7.0)[:, 1])
    assert len(cols) > 0 and img.sum() == 7.0 * (img != 0).sum()


def test_rasterize_point_burn():
    img = np.zeros((5, 5), dtype=np.float64)
    rasterize.burn_points(img, [[2.7, 3.2], [-1, 0], [4.999, 4.999]], 9.0)
    assert img[3, 2] == 9.0 and img[4, 4] == 9.0 and (img != 0).sum() == 2


def test_rasterize_all_touched_superset_of_bresenham():
    img_b = np.zeros((20, 20), dtype=np.float64)
    img_t = np.zeros((20, 20), dtype=np.float64)
    line = np.array([[0.2, 0.2], [15.7, 9.3]], float)
    rasterize.burn_line(img_b, line, 1.0)
    rasterize.burn_line_all_touched(img_t, line, 1.0)
    assert ((img_b == 1) & (img_t == 0)).sum() <= 1  # end-point handling aside
    assert img_t.sum() >= img_b.sum()


def test_horizontal_bottom_segment_filled_separately():
    # a degenerate "flat" polygon exercises the bottom-horizontal branch
    img = np.zeros((10, 10), dtype=np.float64)
    ring = np.array([[2, 4.5], [7, 4.5], [7, 2], [2, 2], [2, 4.5]], float)
    rasterize.fill_polygon(img, [ring], 5.0)
    assert (img[2:4, 2:7] == 5.0).all()


# ---------------------------------------------------------------- geom
def test_shoelace_and_orientation():
    ccw = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    assert geom.ring_signed_area(ccw) == 16.0
    assert not geom.is_clockwise(ccw)
    assert geom.is_clockwise(ccw[::-1])
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], float)
    assert geom.polygon_area([ccw, hole]) == 15.0


def test_centroid_and_distance():
    sq = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], float)
    assert geom.ring_centroid(sq) == (1.0, 1.0)
    d2 = geom.point_segment_dist2(np.array([0.0]), np.array([1.0]),
                                  0.0, 0.0, 2.0, 0.0)
    assert d2[0] == 1.0


def test_mercator_roundtrip():
    lon = np.array([-180.0, -12.5, 0.0, 77.7, 179.9])
    lat = np.array([-85.0, -45.0, 0.0, 33.3, 84.9])
    x, y = geom.lonlat_to_mercator(lon, lat)
    lon2, lat2 = geom.mercator_to_lonlat(x, y)
    assert np.allclose(lon, lon2, atol=1e-9) and np.allclose(lat, lat2, atol=1e-9)
    assert abs(x[0]) == pytest.approx(cells.WEB_MERCATOR_ORIGIN, rel=1e-9)
