"""Distributed focal (neighborhood) operators via halo exchange.

gdaldem's 3x3 window ops need each pixel's 8 neighbors; at tile
boundaries those live in OTHER tiles (on other executors at scale).
``Window.partitionBy`` can't express a 2-D halo, so ``halo_apply``
does an explicit halo exchange — the distributed form of gdaldem's
three-line rolling window (/root/reference/apps/gdaldem_lib.cpp:466+):

  1. per tile (mapInPandas): emit the center payload to itself AND
     k-px border strips/corners addressed to each of the 8 neighbor
     tiles — the shuffle carries ~4*k*ts pixels per tile, not 9 full
     copies;
  2. groupBy destination tile and band (applyInPandas): assemble the
     padded (ts+2k)^2 float64 window — NaN where a neighbor doesn't
     exist (global raster edge, matching gdaldem's edge nodata) — and
     hand it to the operator's per-tile function.

Every tiled neighbourhood operator runs on this one exchange: the
focal kernels here (k=1, numpy kernels.focal, result tile float32
with its golden checksum), fill nodata (k=radius), point sampling
(k=1), contour (k=1) and the cubic/gauss overview (k=3 / k=1).

Tile-split invariance: away from the global edge, the assembled halo
equals the single-array window, so the distributed result ==
kernels.focal.focal_array — asserted in tests at every kernel.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernels import checksum as kck
from ..kernels import focal as kf

OUT_SCHEMA = "z int, tx bigint, ty bigint, band int, px binary, checksum long"


def _span(o: int, k: int, ts: int) -> tuple[slice, slice]:
    """(source slice, padded slice) along one axis for a tile ``o``
    tiles (-1, 0, 1) from the destination: the source pixels that fall
    in the destination's k-px halo window, and where they land in it."""
    lo, hi = max(0, -k - o * ts), min(ts, ts + k - o * ts)
    return slice(lo, hi), slice(o * ts + lo + k, o * ts + hi + k)


def halo_apply(tiles: DataFrame, k: int,
               fn: Callable[[int, int, int, np.ndarray], pd.DataFrame],
               schema: str, dtype, tile_size: int) -> DataFrame:
    """Run ``fn(tx, ty, band, padded)`` on every tile of ``tiles``
    (tx, ty, px[, band]) with a ``k``-px border from its neighbours.

    ``padded`` is the (ts+2k)^2 float64 window centred on the tile, NaN
    where a neighbour tile is absent; ``fn`` returns a pandas frame of
    ``schema``.  One mapInPandas emits each tile's centre to itself and
    its strips and corners to its 8 neighbours, keyed (dtx, dty, band);
    one groupBy(...).applyInPandas assembles the windows.  A group with
    no centre tile (just past the raster's edge, or a missing tile)
    emits nothing.  An input without a ``band`` column is band 1.
    """
    ts = tile_size
    if not 1 <= k <= ts:
        raise ValueError(f"halo width {k} outside 1..{ts} (tile size)")
    np_dtype = np.dtype(dtype)
    # (ox, oy): source tile's offset from the destination tile
    parts = [(ox, oy, _span(oy, k, ts), _span(ox, k, ts))
             for oy in (-1, 0, 1) for ox in (-1, 0, 1)]
    src = tiles if "band" in tiles.columns else tiles.withColumn(
        "band", F.lit(1))

    def _emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for tx, ty, band, raw in zip(pdf["tx"], pdf["ty"], pdf["band"],
                                         pdf["px"]):
                arr = np.frombuffer(raw, dtype=np_dtype).reshape(ts, ts)
                for ox, oy, (ys, _), (xs, _) in parts:
                    rows.append((int(tx) - ox, int(ty) - oy, int(band),
                                 ox, oy, arr[ys, xs].tobytes()))
            yield pd.DataFrame(rows, columns=[
                "dtx", "dty", "band", "ox", "oy", "payload"])

    halo = src.select("tx", "ty", "band", "px").mapInPandas(
        _emit, "dtx long, dty long, band int, ox int, oy int, payload binary")
    place = {(ox, oy): (ys, xs) for ox, oy, (_, ys), (_, xs) in parts}

    def _apply(key, pdf):       # no type hints: PySpark warns on partial ones
        if not ((pdf["ox"] == 0) & (pdf["oy"] == 0)).any():
            return pd.DataFrame()
        padded = np.full((ts + 2 * k, ts + 2 * k), np.nan)
        for ox, oy, raw in zip(pdf["ox"], pdf["oy"], pdf["payload"]):
            dst = place[int(ox), int(oy)]
            padded[dst] = np.frombuffer(raw, dtype=np_dtype).reshape(
                padded[dst].shape)
        return fn(int(key[0]), int(key[1]), int(key[2]), padded)

    return halo.groupBy("dtx", "dty", "band").applyInPandas(_apply, schema)


def focal_tiles(tiles: DataFrame, kernel: str, zoom: int,
                ewres: float = 1.0, nsres: float = 1.0,
                dtype: str = "uint8", tile_size: int = 256,
                out_dtype: str = "float32") -> DataFrame:
    np_out = np.dtype(out_dtype)

    def _kernel(tx, ty, band, padded) -> pd.DataFrame:
        out = kf.KERNELS[kernel](padded, ewres, nsres).astype(np_out)
        return pd.DataFrame({
            "z": [zoom], "tx": [tx], "ty": [ty], "band": [band],
            "px": [out.tobytes()],
            "checksum": [kck.checksum(out.astype(np.float64), is_float=True)],
        })

    return halo_apply(tiles, 1, _kernel, OUT_SCHEMA, dtype, tile_size)
