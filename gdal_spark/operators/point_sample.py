"""Raster x vector point sampling: value of a tiled raster at point
locations — the 'as-of in space' join.

Semantics target: GDALInterpolateAtPoint near/bilinear
(/root/reference/alg/gdal_interpolateatpoint.cpp:415; CLI
/root/reference/apps/gdallocationinfo.cpp).  Pixel centers sit at
(i + 0.5); bilinear samples the 2x2 center neighborhood of
(gx - 0.5, gy - 0.5) with fractional weights.

Distributed shape: points map to their tile by pure Column math; the
tiles are assembled WITH a 1-px halo by the shared exchange
(``operators.focal.halo_apply``, as for the focal operators) so
bilinear reads that straddle a tile border see real neighbor pixels;
points and padded tiles meet in a cogroup keyed by (tx, ty) — one
shuffle each side, numpy sampling per group.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import functions as gf
from ..kernels.cells import TileGrid
from .focal import halo_apply

SAMPLE_SCHEMA = "pid long, value double"


def _padded_tiles(tiles: DataFrame, np_dtype, ts: int) -> DataFrame:
    """(tx, ty, padded binary): each tile with its 1-px neighbor halo
    (NaN where no neighbor exists — dataset edge)."""

    def _bytes(tx, ty, band, padded) -> pd.DataFrame:
        return pd.DataFrame({"tx": [tx], "ty": [ty],
                             "padded": [padded.tobytes()]})

    return halo_apply(tiles, 1, _bytes, "tx long, ty long, padded binary",
                      np_dtype, ts)


def sample_tiles(tiles: DataFrame, points: DataFrame, grid: TileGrid,
                 zoom: int, method: str = "near", dtype: str = "uint8",
                 tile_size: int | None = None) -> DataFrame:
    """Sample the tiled raster at point locations.

    points: DF(pid bigint, x double, y double).  Returns (pid, value)
    — NaN-free only where the point lands on an existing tile.
    """
    ts = tile_size or grid.tile_size
    np_dtype = np.dtype(dtype)
    res = grid.resolution(zoom)

    tx, ty = gf.tile_xy_cols(grid, zoom, F.col("x"), F.col("y"))
    pts = points.withColumn("tx", tx).withColumn("ty", ty)
    padded = _padded_tiles(tiles, np_dtype, ts)

    tlx, tly = grid.top_left_x, grid.top_left_y

    def _sample(key, pts_pdf: pd.DataFrame, tile_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pts_pdf) == 0 or len(tile_pdf) == 0:
            return pd.DataFrame([], columns=["pid", "value"])
        txv, tyv = int(key[0]), int(key[1])
        padded_arr = np.frombuffer(
            tile_pdf.iloc[0]["padded"], dtype=np.float64
        ).reshape(ts + 2, ts + 2)
        # global pixel coords -> local coords inside the padded array
        gx = (pts_pdf["x"].to_numpy() - tlx) / res - txv * ts
        gy = (tly - pts_pdf["y"].to_numpy()) / res - tyv * ts
        if method == "near":
            ix = np.floor(gx).astype(np.int64)
            iy = np.floor(gy).astype(np.int64)
            vals = padded_arr[iy + 1, ix + 1]
        else:  # bilinear on pixel centers (interpolateatpoint semantics)
            sx = gx - 0.5
            sy = gy - 0.5
            x0 = np.floor(sx).astype(np.int64)
            y0 = np.floor(sy).astype(np.int64)
            fx = sx - x0
            fy = sy - y0
            p = padded_arr
            v00 = p[y0 + 1, x0 + 1]
            v01 = p[y0 + 1, x0 + 2]
            v10 = p[y0 + 2, x0 + 1]
            v11 = p[y0 + 2, x0 + 2]
            vals = ((1 - fx) * (1 - fy) * v00 + fx * (1 - fy) * v01
                    + (1 - fx) * fy * v10 + fx * fy * v11)
        return pd.DataFrame({"pid": pts_pdf["pid"].to_numpy(), "value": vals})

    return (
        pts.groupBy("tx", "ty")
        .cogroup(padded.groupBy("tx", "ty"))
        .applyInPandas(_sample, SAMPLE_SCHEMA)
    )
