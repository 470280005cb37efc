"""Fill nodata: tile-split invariance vs the single-array kernel."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gdal_spark.operators.fill import fill_nodata_tiles
from reference_twins import fill_nodata_array

TS, N, H = 16, 2, 3
NODATA = 0.0


def _arr():
    rng = np.random.RandomState(9)
    a = rng.uniform(1, 255, size=(N * TS, N * TS)).astype(np.float32)
    # punch nodata holes, including on tile borders
    a[5:8, 14:18] = NODATA
    a[15:17, 15:17] = NODATA
    a[0, 0] = NODATA
    a[20, 31] = NODATA
    return a


def _tiles_df(spark, arr):
    rows = [
        {"tx": tx, "ty": ty,
         "px": bytearray(arr[ty * TS:(ty + 1) * TS, tx * TS:(tx + 1) * TS]
                         .tobytes())}
        for ty in range(N) for tx in range(N)
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_fill_tile_split_invariance(spark):
    arr = _arr()
    want = fill_nodata_array(arr.astype(np.float64), NODATA, H).astype(
        np.float32)
    rows = fill_nodata_tiles(_tiles_df(spark, arr), NODATA, radius=H,
                             dtype="float32", tile_size=TS).collect()
    got = np.zeros_like(want)
    for r in rows:
        t = np.frombuffer(r["px"], dtype=np.float32).reshape(TS, TS)
        got[r["ty"] * TS:(r["ty"] + 1) * TS,
            r["tx"] * TS:(r["tx"] + 1) * TS] = t
    np.testing.assert_array_equal(got, want)
    # holes actually filled (all had valid neighbors within radius)
    assert (got != NODATA).all()


@pytest.mark.parametrize("radius", [0, 9])
def test_radius_outside_one_tile_is_refused_when_built(spark, radius):
    # the halo reaches at most one tile over, and a 0-px halo is no fill
    arr = np.ones((2 * 8, 2 * 8), dtype=np.float32)
    tiles = spark.createDataFrame(pd.DataFrame([
        {"tx": tx, "ty": ty,
         "px": bytearray(arr[ty * 8:(ty + 1) * 8, tx * 8:(tx + 1) * 8]
                         .tobytes())}
        for ty in range(2) for tx in range(2)]))
    with pytest.raises(ValueError, match="halo width"):
        fill_nodata_tiles(tiles, NODATA, radius=radius, dtype="float32",
                          tile_size=8)
