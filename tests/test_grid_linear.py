"""Delaunay kernel + grid_linear (gdal_grid -a linear role):
Bowyer-Watson vs the enumeration definition, planar-field
exactness, hull fallback."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.kernels.cells import TileGrid
from gdal_spark.kernels.delaunay import (_bw_core, _circumcircle_contains,
                                         brute_force_delaunay,
                                         delaunay_triangles)
from gdal_spark.operators.grid_interp import grid_linear

GRID = TileGrid.local(0.0, 0.0, 16.0, 16.0)
Z = 3     # 8x8 cells


def _mix(i, salt):
    # multiplicative hash: no collinear / cocircular lattice structure
    return ((i * 2654435761 + salt * 40503) ^ (i << 7)) % 9973


def _pts(n, salt=0):
    xs = [_mix(i, salt) / 9973.0 * 14.0 + 1.0 for i in range(n)]
    ys = [_mix(i + 1000, salt + 7) / 9973.0 * 14.0 + 1.0 for i in range(n)]
    return xs, ys


@pytest.mark.parametrize("n,salt", [(8, 0), (15, 1), (25, 2), (40, 3)])
def test_bowyer_watson_matches_enumeration(n, salt):
    xs, ys = _pts(n, salt)
    bw = delaunay_triangles(xs, ys)
    brute = brute_force_delaunay(xs, ys)
    assert bw == brute
    # Euler: for a triangulation of the convex hull,
    # #triangles = 2n - 2 - hull_size
    from math import atan2
    cxm, cym = sum(xs) / n, sum(ys) / n
    # hull size via monotone chain
    pts = sorted(zip(xs, ys))

    def half(pts):
        out = []
        for p in pts:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(p)
        return out
    hull = len(half(pts)) + len(half(pts[::-1])) - 2
    assert len(bw) == 2 * n - 2 - hull


def _delaunay_triangles_scalar(xs, ys,
                               scale: float = 30.0
                               ) -> list[tuple[int, int, int]]:
    """The pre-vectorization scalar Bowyer-Watson, kept verbatim as
    the bit-equivalence reference for the vectorized scan; the
    super-triangle placement expression matches _bw_core exactly."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = len(xs)
    if n < 3:
        return []
    minx, maxx = float(xs.min()), float(xs.max())
    miny, maxy = float(ys.min()), float(ys.max())
    span = max(maxx - minx, maxy - miny, 1.0)
    midx, midy = (minx + maxx) / 2.0, (miny + maxy) / 2.0
    px = np.concatenate([xs, [midx - scale * span, midx,
                              midx + scale * span]])
    py = np.concatenate([ys, [midy - scale * span * (2.0 / 3.0),
                              midy + scale * span,
                              midy - scale * span * (2.0 / 3.0)]])

    tris: list[tuple[int, int, int]] = [(n, n + 1, n + 2)]
    for p in range(n):
        bad = []
        for t_idx, (a, b, c) in enumerate(tris):
            if _circumcircle_contains(px[a], py[a], px[b], py[b],
                                      px[c], py[c], px[p], py[p]):
                bad.append(t_idx)
        edge_count: dict[tuple[int, int], int] = {}
        for t_idx in bad:
            a, b, c = tris[t_idx]
            for e in ((a, b), (b, c), (c, a)):
                key = (min(e), max(e))
                edge_count[key] = edge_count.get(key, 0) + 1
        for t_idx in reversed(bad):
            del tris[t_idx]
        for (u, v), cnt in sorted(edge_count.items()):
            if cnt == 1:
                tris.append(tuple(sorted((u, v, p))))

    out = sorted(t for t in tris if max(t) < n)
    return [tuple(int(v) for v in t) for t in out]


@pytest.mark.parametrize("n,salt", [(50, 11), (200, 12), (700, 13)])
def test_vectorized_scan_matches_scalar(n, salt):
    """The numpy-vectorized bad-triangle scan must produce the
    bit-identical facet list of the scalar Bowyer-Watson it replaced
    (same IEEE expression, same insertion order)."""
    xs, ys = _pts(n, salt)
    xa = np.asarray(xs, dtype=np.float64)
    ya = np.asarray(ys, dtype=np.float64)
    for scale in (30.0, 240.0):
        assert (_bw_core(xa, ya, scale)
                == _delaunay_triangles_scalar(xs, ys, scale))


def test_degenerate_inputs():
    assert delaunay_triangles([0.0, 1.0], [0.0, 1.0]) == []
    tris = delaunay_triangles([0.0, 4.0, 0.0], [0.0, 0.0, 4.0])
    assert tris == [(0, 1, 2)]


def test_planar_field_reproduced_exactly(spark):
    """A TIN of samples from v = a*x + b*y + c interpolates the
    plane exactly at every in-hull cell center (the defining
    property of GDALGridLinear)."""
    xs, ys = _pts(30)
    a, b, c = 0.5, -0.25, 3.0
    rows = [(i, xs[i], ys[i], a * xs[i] + b * ys[i] + c)
            for i in range(30)]
    df = spark.createDataFrame(rows, "pid long, x double, y double, v double")
    out = grid_linear(df, GRID, Z)
    ts = GRID.tile_span(Z)
    for r in out.filter(F.col("in_hull")).collect():
        cx = GRID.top_left_x + (r["ctx"] + 0.5) * ts
        cy = GRID.top_left_y - (r["cty"] + 0.5) * ts
        assert r["linear"] == pytest.approx(a * cx + b * cy + c,
                                            abs=1e-9), (r["ctx"], r["cty"])


def test_hull_fallback_nearest(spark):
    # 3 points in one corner: most cells are outside the hull and
    # must carry the (d2, pid)-nearest value
    rows = [(0, 2.0, 14.0, 10.0), (1, 4.0, 14.0, 20.0), (2, 3.0, 12.0, 30.0)]
    df = spark.createDataFrame(rows, "pid long, x double, y double, v double")
    out = grid_linear(df, GRID, Z)
    n = out.count()
    assert n == 64                      # full cell universe covered
    far = out.filter((F.col("ctx") == 7) & (F.col("cty") == 7)).collect()[0]
    assert not far["in_hull"]
    # nearest to cell center (15,-15 local=top-left... compute):
    ts = GRID.tile_span(Z)
    cx = GRID.top_left_x + 7.5 * ts
    cy = GRID.top_left_y - 7.5 * ts
    d = [(cx - x) ** 2 + (cy - y) ** 2 for _, x, y, _v in rows]
    assert far["linear"] == rows[int(np.argmin(d))][3]
    # fallback="none" keeps only in-hull rows
    assert grid_linear(df, GRID, Z, fallback="none") \
        .filter(~F.col("in_hull")).count() == 0


def test_driver_tin_guard(spark, monkeypatch):
    """Oversized point layers must raise (bounded driver TIN), not
    silently collect; within-cap layers are unaffected."""
    from gdal_spark.operators import grid_interp as gi
    xs, ys = _pts(20, 5)
    pts = spark.createDataFrame(
        [(i, float(x), float(y), float(i % 7)) for i, (x, y)
         in enumerate(zip(xs, ys))], "pid long, x double, y double, v double")
    monkeypatch.setattr(gi, "MAX_DRIVER_TIN_POINTS", 10)
    with pytest.raises(ValueError, match="MAX_DRIVER_TIN_POINTS"):
        gi.grid_linear(pts, GRID, Z)
    monkeypatch.setattr(gi, "MAX_DRIVER_TIN_POINTS", 20)
    assert gi.grid_linear(pts, GRID, Z).count() > 0


def test_hull_sliver_gap_repair():
    """Regression (round-5 sf0.1 bench): a flat hull sliver whose
    circumdisk reaches the super vertices at EVERY adaptive scale is
    silently dropped by the Bowyer-Watson core — two consecutive
    scales return the same incomplete set, the old loop broke early,
    and the facet count missed Euler's 2n-2-h by one.  The structural
    gap repair must recover it: the coordinates are the actual
    sf0.1 triple (circumradius ~6.3e6 over a ~4,700 span)."""
    import numpy as np

    from gdal_spark.kernels.delaunay import (_bw_core,
                                             brute_force_delaunay,
                                             delaunay_triangles)
    from gdal_spark.kernels.geom import convex_hull

    xs = np.array([481267.02691329, 479180.27941379, 479966.231992,
                   479500.0, 480800.0, 480200.0, 479900.0])
    ys = np.array([4765593.52817608, 4765606.39391357,
                   4765601.46660985, 4762000.0, 4762500.0,
                   4763800.0, 4761700.0])
    h = len(convex_hull(np.column_stack([xs, ys]))) - 1
    expect = 2 * len(xs) - 2 - h
    # the premise: the raw core really does under-produce here
    assert len(_bw_core(xs, ys, 30.0)) < expect
    got = delaunay_triangles(xs, ys)
    assert len(got) == expect
    assert sorted(got) == sorted(brute_force_delaunay(xs, ys))
