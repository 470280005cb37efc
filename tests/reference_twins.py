"""Single-array reference twins of the engine's distributed raster and
PIP kernels.  No engine path calls them; the tests compare the
distributed operators against them."""

from __future__ import annotations

import numpy as np

from gdal_spark.kernels.polygonize import label_components, trace_rings
from gdal_spark.kernels.proximity import proximity_from_targets, target_pixels


def winding_number(px, py, ring_xy):
    """Vectorized winding number of N points w.r.t. one ring.

    Mirrors polygon_ring_appender.h:50-87: signed crossings of the
    upward/downward edges using the isLeft orientation test.  Nonzero
    winding == inside.  The engine's bit-match PIP path is the even-odd
    ray cast (kernels/pip.py), and polygonize tells outer rings from
    holes by signed area.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring_xy, dtype=np.float64)

    x1, y1 = ring[:-1, 0][:, None], ring[:-1, 1][:, None]
    x2, y2 = ring[1:, 0][:, None], ring[1:, 1][:, None]
    # isLeft((x1,y1),(x2,y2),p) > 0 <=> p left of upward edge
    is_left = (x2 - x1) * (py[None, :] - y1) - (px[None, :] - x1) * (y2 - y1)
    up = (y1 <= py[None, :]) & (y2 > py[None, :]) & (is_left > 0)
    down = (y1 > py[None, :]) & (y2 <= py[None, :]) & (is_left < 0)
    return (up.sum(axis=0) - down.sum(axis=0)).astype(np.int64)


def _ring_area(ring):
    """Signed ring area in pixel coords (y down, region on left while
    tracing): outer rings positive, holes negative.  (Region-on-left
    tracing makes outer rings counterclockwise on screen == clockwise
    in y-up math coords, so the standard shoelace sign is negated.)"""
    r = np.asarray(ring, dtype=np.float64)
    x, y = r[:-1, 0], r[:-1, 1]
    x2, y2 = r[1:, 0], r[1:, 1]
    return -0.5 * float(np.sum(x * y2 - x2 * y))


def polygonize_array(arr, connect8: bool = False, nodata=None):
    """Full single-array polygonize: label + trace per component.

    Returns list of dicts {value, label, rings (outer first, then
    holes), pixel_count} ordered by label.  The distributed operator
    reproduces this result tile-split-invariantly.
    """
    a = np.asarray(arr)
    labels, n = label_components(a, connect8=connect8, nodata=nodata)
    out = []
    for lab in range(1, n + 1):
        mask = labels == lab
        ys, xs = np.nonzero(mask)
        val = a[ys[0], xs[0]]
        rings = trace_rings(mask, connect8=connect8)
        outer = [r for r in rings if _ring_area(r) > 0]
        holes = [r for r in rings if _ring_area(r) < 0]
        out.append({
            "value": val, "label": lab,
            "rings": outer + holes,
            "pixel_count": int(mask.sum()),
        })
    return out


def fill_nodata_array(arr, nodata, radius: int):
    """Single-array fill: IDW(1/d^2) over valid pixels within the
    Chebyshev radius; NaN-padded edges contribute nothing."""
    a = np.asarray(arr, dtype=np.float64)
    h, w = a.shape
    pad = np.full((h + 2 * radius, w + 2 * radius), np.nan)
    pad[radius:-radius, radius:-radius] = np.where(a == nodata, np.nan, a)
    out = a.copy()
    ys, xs = np.nonzero(a == nodata)
    for y, x in zip(ys.tolist(), xs.tolist()):
        win = pad[y:y + 2 * radius + 1, x:x + 2 * radius + 1]
        vy, vx = np.nonzero(~np.isnan(win))
        if len(vy) == 0:
            continue
        d2 = (vy - radius) ** 2.0 + (vx - radius) ** 2.0
        wgt = 1.0 / d2
        out[y, x] = float((win[vy, vx] * wgt).sum() / wgt.sum())
    return out


def sieve_to_array(sieved_runs, shape):
    """Collect sieved runs into a dense array."""
    out = np.zeros(shape, dtype=np.int64)
    for r in sieved_runs:
        out[r["gy"], r["gx0"]:r["gx1"] + 1] = r["value"]
    return out


def proximity_array(arr, target_values, maxdist: float):
    """Single-array proximity: exact Euclidean distance to the nearest
    target pixel, FILL beyond maxdist."""
    tys, txs = target_pixels(arr, target_values)
    return proximity_from_targets(np.asarray(arr).shape, tys, txs, maxdist)
