"""Scalar geometry kernels: area, orientation, centroid, distance.

* Shoelace area / orientation follow OGRLinearRing semantics:
  signed area sign test == isClockwise
  (/root/reference/ogr/ogrcurve.cpp:736); get_Area returns the
  absolute value (OGR_GEOM_AREA special field,
  /root/reference/ogr/ogr_p.h:167-174).
* Distance: Euclidean point/point and point/segment, the building
  blocks of Distance (/root/reference/ogr/ogrgeometry.cpp:3564) for
  the point/line/polygon subset we support.
* Web-Mercator <-> lon/lat: the standard spherical formulas backing
  EPSG:3857, the only CRS pair v1 supports (SURVEY.md non-goals).
"""

from __future__ import annotations

import numpy as np

_R = 6378137.0  # WGS84 semi-major axis used by spherical mercator


def ring_signed_area(ring_xy):
    """Signed shoelace area; negative == clockwise (screen-up coords)."""
    r = np.asarray(ring_xy, dtype=np.float64)
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def is_clockwise(ring_xy) -> bool:
    return ring_signed_area(ring_xy) < 0


def polygon_area(rings) -> float:
    """|outer| - sum(|holes|), OGRPolygon::get_Area semantics."""
    if not rings:
        return 0.0
    area = abs(ring_signed_area(rings[0]))
    for hole in rings[1:]:
        area -= abs(ring_signed_area(hole))
    return area


def ring_centroid(ring_xy):
    """Area-weighted centroid of a closed ring."""
    r = np.asarray(ring_xy, dtype=np.float64)
    x, y = r[:, 0], r[:, 1]
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    a = cross.sum() / 2.0
    if a == 0.0:
        return float(x.mean()), float(y.mean())
    cx = float(((x[:-1] + x[1:]) * cross).sum() / (6.0 * a))
    cy = float(((y[:-1] + y[1:]) * cross).sum() / (6.0 * a))
    return cx, cy


def point_segment_dist2(px, py, ax, ay, bx, by):
    """Vectorized squared distance from points to one segment."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    dx, dy = bx - ax, by - ay
    ll = dx * dx + dy * dy
    if ll == 0.0:
        return (px - ax) ** 2 + (py - ay) ** 2
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / ll, 0.0, 1.0)
    qx, qy = ax + t * dx, ay + t * dy
    return (px - qx) ** 2 + (py - qy) ** 2


def bbox_intersects(a, b) -> bool:
    """Envelope overlap — the pessimistic phase-1 test
    (ogr_wkb.h:36 OGRWKBIntersectsPessimistic role).  An EMPTY
    geometry's envelope (None, see ``wkb_bbox``) overlaps nothing."""
    if a is None or b is None:
        return False
    return not (a[2] < b[0] or b[2] < a[0] or a[3] < b[1] or b[3] < a[1])


def lonlat_to_mercator(lon, lat):
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    x = _R * np.radians(lon)
    y = _R * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    return x, y


def mercator_to_lonlat(x, y):
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    lon = np.degrees(x / _R)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / _R)) - np.pi / 2.0)
    return lon, lat


def convex_hull(points_xy):
    """Andrew monotone chain; returns a closed CCW ring (K+1, 2).

    The role of OGRGeometry::ConvexHull (ogrgeometry.cpp:4470,
    GEOS-backed there)."""
    pts = np.asarray(points_xy, dtype=np.float64)
    # (x, y)-lexsort + adjacent-dup drop == np.unique(axis=0), without
    # its per-row void-view repack
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]
    if len(pts) > 1:
        dup = (pts[1:] == pts[:-1]).all(axis=1)
        pts = pts[np.concatenate(([True], ~dup))]
    if len(pts) == 1:
        p = pts[0]
        return np.array([p, p, p, p])
    # scalar-float turn test: same IEEE expression as
    # np.cross(out[-1]-out[-2], p-out[-2]) but ~50x cheaper per step
    xs = pts[:, 0].tolist()
    ys = pts[:, 1].tolist()

    def half(seq):
        out: list = []
        for i in seq:
            x, y = xs[i], ys[i]
            while len(out) >= 2:
                x1, y1 = xs[out[-2]], ys[out[-2]]
                x2, y2 = xs[out[-1]], ys[out[-1]]
                if (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1) <= 0:
                    out.pop()
                else:
                    break
            out.append(i)
        return out

    n = len(xs)
    lower = half(range(n))
    upper = half(range(n - 1, -1, -1))
    return pts[lower[:-1] + upper[:-1] + [lower[0]]]


def simplify_ring(arr, tol: float):
    """Douglas-Peucker (OGRGeometry::Simplify role,
    ogrgeometry.cpp:5657; GEOS DouglasPeuckerSimplifier there).
    arr: (M,2) polyline (closed rings keep first==last)."""
    a = np.asarray(arr, dtype=np.float64)
    if len(a) < 3:
        return a.copy()
    keep = np.zeros(len(a), dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(a) - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = a[i + 1:j]
        d2 = point_segment_dist2(
            seg[:, 0], seg[:, 1], a[i, 0], a[i, 1], a[j, 0], a[j, 1])
        k = int(np.argmax(d2))
        if d2[k] > tol * tol:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return a[keep]


WGS84_AUTHALIC_R = 6371007.180918475  # authalic sphere radius (meters)


def geodesic_ring_area(ring_lonlat) -> float:
    """Spherical-excess ring area on the WGS84 authalic sphere
    (positive, m^2) — the use_ellipsoid=TRUE role of OGR_GetArea
    (ogrsqlitesqlfunctions.cpp:1230; the reference is exact
    ellipsoidal via geodesic.c, this is the spherical approximation,
    within ~0.1% for mid-latitudes)."""
    r = np.asarray(ring_lonlat, dtype=np.float64)
    lon = np.radians(r[:, 0])
    lat = np.radians(r[:, 1])
    # Chamberlain & Duquette spherical polygon area
    s = np.sum((lon[1:] - lon[:-1]) * (2 + np.sin(lat[1:]) + np.sin(lat[:-1])))
    return abs(s) / 2.0 * WGS84_AUTHALIC_R * WGS84_AUTHALIC_R


def geodesic_length(line_lonlat) -> float:
    """Great-circle length (haversine) on the authalic sphere, m."""
    r = np.asarray(line_lonlat, dtype=np.float64)
    lon = np.radians(r[:, 0])
    lat = np.radians(r[:, 1])
    dlon = lon[1:] - lon[:-1]
    dlat = lat[1:] - lat[:-1]
    h = (np.sin(dlat / 2) ** 2
         + np.cos(lat[:-1]) * np.cos(lat[1:]) * np.sin(dlon / 2) ** 2)
    return float(2 * WGS84_AUTHALIC_R * np.arcsin(np.sqrt(h)).sum())


# ---- Transverse Mercator (numpy twin of operators/tmerc.py) --------------
def tmerc_forward(lon_deg, lat_deg, lon0_deg, a=6378137.0,
                  f=1.0 / 298.257223563, k0=0.9996, fe=500000.0,
                  fn=0.0):
    """Snyder PP-1395 series forward, SAME formula order as the
    Column steps in operators/tmerc.py::tmerc_forward_steps.  mul /
    div / sqrt are identical IEEE ops; trig and pow may differ by
    ULPs between numpy's libm and the JVM, so parity with the Column
    path is asserted at sub-micron tolerance (tests/test_tmerc.py),
    not bitwise."""
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)
    e4, e6 = e2 * e2, e2 * e2 * e2
    c0 = 1.0 - e2 / 4.0 - 3.0 * e4 / 64.0 - 5.0 * e6 / 256.0
    c2 = 3.0 * e2 / 8.0 + 3.0 * e4 / 32.0 + 45.0 * e6 / 1024.0
    c4 = 15.0 * e4 / 256.0 + 45.0 * e6 / 1024.0
    c6 = 35.0 * e6 / 3072.0
    lam0 = float(np.radians(lon0_deg))
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    sphi, cphi, tphi = np.sin(phi), np.cos(phi), np.tan(phi)
    nn = a / np.sqrt(1.0 - e2 * sphi * sphi)
    tt = tphi * tphi
    cc = ep2 * cphi * cphi
    aa = (np.radians(np.asarray(lon_deg, dtype=np.float64)) - lam0) * cphi
    mm = a * (c0 * phi - c2 * np.sin(2.0 * phi)
              + c4 * np.sin(4.0 * phi) - c6 * np.sin(6.0 * phi))
    x = fe + k0 * nn * (aa + (1.0 - tt + cc) * aa * aa * aa / 6.0
                        + (5.0 - 18.0 * tt + tt * tt + 72.0 * cc
                           - 58.0 * ep2) * aa ** 5.0 / 120.0)
    y = fn + k0 * (mm + nn * tphi * (aa * aa / 2.0
                   + (5.0 - tt + 9.0 * cc + 4.0 * cc * cc)
                   * aa ** 4.0 / 24.0
                   + (61.0 - 58.0 * tt + tt * tt + 600.0 * cc
                      - 330.0 * ep2) * aa ** 6.0 / 720.0))
    return x, y


def tmerc_inverse(x, y, lon0_deg, a=6378137.0, f=1.0 / 298.257223563,
                  k0=0.9996, fe=500000.0, fn=0.0):
    """Snyder series inverse (eqs. 7-19, 3-24, 8-17..8-25), same
    formula order as operators/tmerc.py::tmerc_inverse_steps."""
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)
    e4, e6 = e2 * e2, e2 * e2 * e2
    c0 = 1.0 - e2 / 4.0 - 3.0 * e4 / 64.0 - 5.0 * e6 / 256.0
    se = (1.0 - e2) ** 0.5
    e1 = (1.0 - se) / (1.0 + se)
    j2 = 3.0 * e1 / 2.0 - 27.0 * e1 ** 3 / 32.0
    j4 = 21.0 * e1 ** 2 / 16.0 - 55.0 * e1 ** 4 / 32.0
    j6 = 151.0 * e1 ** 3 / 96.0
    j8 = 1097.0 * e1 ** 4 / 512.0
    lam0 = float(np.radians(lon0_deg))
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    mu = (y - fn) / (k0 * a * c0)
    phi1 = (mu + j2 * np.sin(2.0 * mu) + j4 * np.sin(4.0 * mu)
            + j6 * np.sin(6.0 * mu) + j8 * np.sin(8.0 * mu))
    sphi1, cphi1, tphi1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    cc1 = ep2 * cphi1 * cphi1
    tt1 = tphi1 * tphi1
    n1 = a / np.sqrt(1.0 - e2 * sphi1 * sphi1)
    r1 = (a * (1.0 - e2)) * (1.0 - e2 * sphi1 * sphi1) ** -1.5
    dd = (x - fe) / (n1 * k0)
    lat = np.degrees(phi1 - (n1 * tphi1 / r1) * (
        dd * dd / 2.0
        - (5.0 + 3.0 * tt1 + 10.0 * cc1 - 4.0 * cc1 * cc1
           - 9.0 * ep2) * dd ** 4.0 / 24.0
        + (61.0 + 90.0 * tt1 + 298.0 * cc1 + 45.0 * tt1 * tt1
           - 252.0 * ep2 - 3.0 * cc1 * cc1) * dd ** 6.0 / 720.0))
    lon = np.degrees(lam0 + (
        dd - (1.0 + 2.0 * tt1 + cc1) * dd ** 3.0 / 6.0
        + (5.0 - 2.0 * cc1 + 28.0 * tt1 - 3.0 * cc1 * cc1
           + 8.0 * ep2 + 24.0 * tt1 * tt1) * dd ** 5.0 / 120.0) / cphi1)
    return lon, lat
