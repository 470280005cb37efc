"""Fill nodata: interpolate missing pixels from nearby valid ones.

Semantics target: GDALFillNodata
(/root/reference/alg/rasterfill.cpp:394) — inverse-distance
interpolation from surrounding valid pixels within a search radius.
This implementation IDW-weights (1/d^2) ALL valid pixels within
Chebyshev radius ``radius`` (the reference scans four directional
rays then smooths; same intent, simpler determinism) — pixels with no
valid neighbor in range stay nodata.

Distributed shape: the shared halo exchange
(``operators.focal.halo_apply``) with a ``radius``-px border, then
per-tile vectorized numpy.  Tile-split invariance vs the single-array
kernel is the correctness contract, as with every raster operator
here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import checksum as kck
from .focal import halo_apply

OUT_SCHEMA = "tx long, ty long, px binary, checksum long"


def fill_nodata_tiles(tiles: DataFrame, nodata, radius: int = 3,
                      dtype: str = "float32",
                      tile_size: int = 256) -> DataFrame:
    np_dtype = np.dtype(dtype)
    ts = tile_size
    H = radius

    def _fill(tx, ty, band, P) -> pd.DataFrame:
        valid = np.where(P == nodata, np.nan, P)
        center = P[H:H + ts, H:H + ts].copy()
        ys, xs = np.nonzero(center == nodata)
        for y, x in zip(ys.tolist(), xs.tolist()):
            win = valid[y:y + 2 * H + 1, x:x + 2 * H + 1]
            vy, vx = np.nonzero(~np.isnan(win))
            if len(vy) == 0:
                continue
            d2 = (vy - H) ** 2.0 + (vx - H) ** 2.0
            wgt = 1.0 / d2
            center[y, x] = float((win[vy, vx] * wgt).sum() / wgt.sum())
        out = center.astype(np_dtype)
        return pd.DataFrame({
            "tx": [tx], "ty": [ty], "px": [out.tobytes()],
            "checksum": [kck.checksum(out.astype(np.float64),
                                      is_float=True)],
        })

    return halo_apply(tiles, radius, _fill, OUT_SCHEMA, dtype, tile_size)
