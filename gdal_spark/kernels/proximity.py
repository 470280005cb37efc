"""Proximity kernel: per-pixel distance to the nearest target pixel.

Semantics target: GDALComputeProximity
(/root/reference/alg/gdalproximity.cpp:94): for every pixel, the
distance to the nearest pixel whose value is in the target set,
capped at maxdist (pixels beyond it get the nodata fill).  The
reference's two-pass scan computes Euclidean distances; we compute
exact Euclidean directly (vectorized numpy), which the distributed
operator reproduces tile-split-invariantly.
"""

from __future__ import annotations

import numpy as np

FILL = 65535.0


def target_pixels(arr, target_values):
    """(ys, xs) of pixels whose value is in the target set."""
    mask = np.isin(np.asarray(arr), list(target_values))
    ys, xs = np.nonzero(mask)
    return ys.astype(np.int64), xs.astype(np.int64)


def proximity_from_targets(shape, tys, txs, maxdist: float,
                           y0: int = 0, x0: int = 0):
    """Distance raster of `shape` to targets at global (tys, txs);
    (y0, x0) is the window origin.  Exact Euclidean, FILL beyond
    maxdist (or when no target)."""
    h, w = shape
    out = np.full((h, w), FILL, dtype=np.float64)
    if len(tys) == 0:
        return out
    yy = np.arange(y0, y0 + h, dtype=np.float64)[:, None]
    xx = np.arange(x0, x0 + w, dtype=np.float64)[None, :]
    best = np.full((h, w), np.inf)
    # chunk targets to bound memory: (h, w) work per chunk
    for i in range(0, len(tys), 256):
        ty = tys[i:i + 256].astype(np.float64)
        tx = txs[i:i + 256].astype(np.float64)
        d2 = ((yy[..., None] - ty[None, None, :]) ** 2
              + (xx[..., None] - tx[None, None, :]) ** 2)
        best = np.minimum(best, d2.min(axis=2))
    d = np.sqrt(best)
    out = np.where(d <= maxdist, d, FILL)
    return out
