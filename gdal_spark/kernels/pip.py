"""Point-in-polygon kernels: vectorized ray casting.

Ray cast reproduces OGRLinearRing::isPointInRing
(/root/reference/ogr/ogrlinearring.cpp:462-532) arithmetic exactly:
coordinates are translated relative to the test point, a crossing is
counted when the edge straddles y=0 with the strict/inclusive split
``(y1>0 && y2<=0) || (y2>0 && y1<=0)`` and the ray intersection
``(x1*y2 - x2*y1)/(y2-y1)`` is strictly > 0.  Same IEEE double ops in
the same order -> bit-identical inside/outside decisions, including
the reference's edge-case behavior for points on vertices/edges.
"""

from __future__ import annotations

import numpy as np


def ray_cast_odd(edges, px, py):
    """Odd/even ray-cast crossing count of N points over M edges.

    edges : float64 array (M, 4) of (x1, y1, x2, y2) rows — edge i of a
            ring runs from vertex i (x2, y2) to vertex i+1 (x1, y1), the
            reference's iPoint / iPoint-1 pairing.
    px, py: float64 arrays (N,)
    Returns bool array (N,): True == odd number of crossings.
    """
    e = np.asarray(edges, dtype=np.float64).reshape(-1, 4)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    # Relative coords: (M, 1) vs (N,) broadcast -> (M, N) per-edge work.
    x1 = e[:, 0][:, None] - px[None, :]
    y1 = e[:, 1][:, None] - py[None, :]
    x2 = e[:, 2][:, None] - px[None, :]
    y2 = e[:, 3][:, None] - py[None, :]

    straddle = ((y1 > 0) & (y2 <= 0)) | ((y2 > 0) & (y1 <= 0))
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        inter = (x1 * y2 - x2 * y1) / (y2 - y1)
    crossing = straddle & (inter > 0.0)
    return (crossing.sum(axis=0) % 2).astype(bool)


def ring_edges(rings):
    """(M, 4) edge array of a list of (n, 2) rings, in ray_cast_odd's
    (vertex i+1, vertex i) pairing."""
    return np.vstack([np.hstack([r[1:], r[:-1]])
                      for r in map(np.asarray, rings)] or [np.empty((0, 4))]
                     ).astype(np.float64).reshape(-1, 4)


def points_in_ring(px, py, ring_xy, test_envelope=True):
    """Vectorized ray-cast test of N points against one ring.

    px, py : float64 arrays (N,)
    ring_xy: float64 array (M, 2) — ring vertices; the reference
             requires an explicitly closed ring (first == last) and
             >= 4 points (ogrlinearring.cpp:478-481); shorter rings
             contain nothing.
    Returns bool array (N,): True == inside (odd crossings).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring_xy, dtype=np.float64)
    if ring.shape[0] < 4:
        return np.zeros(px.shape, dtype=bool)

    inside = ray_cast_odd(ring_edges([ring]), px, py)

    if test_envelope:
        # Envelope pretest (ogrlinearring.cpp:487-497): points outside
        # the ring bbox are outside, short-circuiting the ray cast.
        minx, miny = ring.min(axis=0)
        maxx, maxy = ring.max(axis=0)
        in_env = (px >= minx) & (px <= maxx) & (py >= miny) & (py <= maxy)
        inside &= in_env
    return inside


def points_in_polygon(px, py, rings):
    """Test points against a polygon = [outer_ring, hole1, ...].

    OGR polygon semantics: inside the outer ring and inside an even
    number of hole rings (each ring flips membership under even-odd).
    """
    inside = points_in_ring(px, py, rings[0])
    for hole in rings[1:]:
        inside &= ~points_in_ring(px, py, hole)
    return inside
