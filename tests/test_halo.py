"""The shared halo exchange (``operators.focal.halo_apply``) and point
sampling on it: each tile's padded window equals the matching slice of
the whole raster padded with NaN."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gdal_spark.kernels.cells import TileGrid
from gdal_spark.operators.focal import halo_apply
from gdal_spark.operators.point_sample import sample_tiles

TS, N = 8, 3


def _raster(seed, n=N):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 250, size=(n * TS, n * TS)).astype(np.uint8)


def _rows(arr, skip=(), **extra):
    n = arr.shape[0] // TS
    return [dict(extra, tx=tx, ty=ty,
                 px=bytearray(arr[ty * TS:(ty + 1) * TS,
                                  tx * TS:(tx + 1) * TS].tobytes()))
            for ty in range(n) for tx in range(n) if (tx, ty) not in skip]


def _windows(tiles, k):
    """{(tx, ty, band): padded window} as halo_apply hands them out."""

    def _keep(tx, ty, band, padded):
        return pd.DataFrame({"tx": [tx], "ty": [ty], "band": [band],
                             "padded": [padded.tobytes()]})

    out = halo_apply(tiles, k, _keep,
                     "tx long, ty long, band int, padded binary",
                     "uint8", TS).collect()
    w = TS + 2 * k
    return {(r["tx"], r["ty"], r["band"]):
            np.frombuffer(r["padded"], dtype=np.float64).reshape(w, w)
            for r in out}


def _want(arr, k, tx, ty, skip=()):
    full = arr.astype(np.float64)
    for sx, sy in skip:
        full[sy * TS:(sy + 1) * TS, sx * TS:(sx + 1) * TS] = np.nan
    p = np.pad(full, k, constant_values=np.nan)
    return p[ty * TS:ty * TS + TS + 2 * k, tx * TS:tx * TS + TS + 2 * k]


@pytest.mark.parametrize("k", [1, 3, TS])
def test_window_is_the_nan_padded_raster_slice(spark, k):
    arr = _raster(5)
    skip = {(1, 1)}          # the middle tile: a neighbour of all others
    got = _windows(spark.createDataFrame(pd.DataFrame(_rows(arr, skip))), k)
    assert set(got) == {(tx, ty, 1) for ty in range(N) for tx in range(N)
                        if (tx, ty) not in skip}
    for (tx, ty, _), padded in got.items():
        np.testing.assert_array_equal(padded, _want(arr, k, tx, ty, skip))


@pytest.mark.parametrize("k", [1, 3, TS])
def test_bands_get_their_own_windows(spark, k):
    a, b = _raster(6), _raster(7)
    pdf = pd.DataFrame(_rows(a, band=1) + _rows(b, band=2))
    pdf["band"] = pdf["band"].astype("int32")
    got = _windows(spark.createDataFrame(pdf), k)
    assert len(got) == 2 * N * N
    for (tx, ty, band), padded in got.items():
        np.testing.assert_array_equal(
            padded, _want(a if band == 1 else b, k, tx, ty))


# (gx, gy) in pixels of a 2x2-tile raster: points whose 2x2 bilinear
# footprint straddles a tile border or corner, then points on the
# raster's edge (footprint partly outside: NaN, as on the whole array)
_BORDER = [(7.75, 3.25), (8.25, 3.5), (3.5, 7.75), (5.25, 8.25),
           (8.0, 8.0), (7.75, 8.25), (8.25, 7.75), (12.5, 7.625)]
_EDGE = [(0.0, 0.0), (0.25, 5.5), (15.75, 15.75), (15.5, 0.25),
         (5.0, 15.75), (0.25, 15.5)]


def _sample_whole(arr, method, gx, gy):
    p = np.pad(arr.astype(np.float64), 1, constant_values=np.nan)
    if method == "near":
        return p[np.floor(gy).astype(int) + 1, np.floor(gx).astype(int) + 1]
    sx, sy = gx - 0.5, gy - 0.5
    x0, y0 = np.floor(sx).astype(int), np.floor(sy).astype(int)
    fx, fy = sx - x0, sy - y0
    return ((1 - fx) * (1 - fy) * p[y0 + 1, x0 + 1]
            + fx * (1 - fy) * p[y0 + 1, x0 + 2]
            + (1 - fx) * fy * p[y0 + 2, x0 + 1]
            + fx * fy * p[y0 + 2, x0 + 2])


@pytest.mark.parametrize("method", ["near", "bilinear"])
def test_sample_tiles_matches_the_whole_array(spark, method):
    arr = _raster(8, n=2)
    w = 2 * TS
    gx, gy = (np.array(v) for v in zip(*(_BORDER + _EDGE)))
    pts = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(gx.size), "x": gx, "y": w - gy}))
    tiles = spark.createDataFrame(pd.DataFrame(_rows(arr)))
    out = sample_tiles(tiles, pts, TileGrid(0.0, float(w), float(w), TS),
                       zoom=1, method=method, dtype="uint8",
                       tile_size=TS).collect()
    got = np.full(gx.size, -1.0)
    for r in out:
        got[r["pid"]] = r["value"]
    want = _sample_whole(arr, method, gx, gy)
    np.testing.assert_array_equal(got, want)
    assert np.isfinite(want[:len(_BORDER)]).all()
