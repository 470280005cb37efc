"""Proximity: tile-split invariance + maxdist bounding."""

from __future__ import annotations

import numpy as np
import pandas as pd

from gdal_spark.kernels import proximity as kprox
from gdal_spark.operators.proximity import proximity_tiles
from reference_twins import proximity_array

TS, N = 16, 3


def _arr():
    a = np.zeros((N * TS, N * TS), dtype=np.uint8)
    a[3, 5] = 9
    a[20, 33] = 9
    a[40, 8] = 9
    a[17, 17] = 4     # not a target
    return a


def _tiles_df(spark, arr):
    rows = [
        {"tx": tx, "ty": ty,
         "px": bytearray(arr[ty * TS:(ty + 1) * TS, tx * TS:(tx + 1) * TS]
                         .tobytes())}
        for ty in range(N) for tx in range(N)
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_proximity_tile_split_invariance(spark):
    arr = _arr()
    maxdist = 20.0
    want = proximity_array(arr, [9], maxdist).astype(np.float32)
    rows = proximity_tiles(_tiles_df(spark, arr), [9], maxdist,
                           tile_size=TS).collect()
    assert len(rows) == N * N
    got = np.zeros_like(want)
    for r in rows:
        t = np.frombuffer(r["px"], dtype=np.float32).reshape(TS, TS)
        got[r["ty"] * TS:(r["ty"] + 1) * TS,
            r["tx"] * TS:(r["tx"] + 1) * TS] = t
    np.testing.assert_array_equal(got, want)
    # targets are distance 0; beyond maxdist is FILL
    assert got[3, 5] == 0.0
    assert (got[got > maxdist] == np.float32(kprox.FILL)).all()
    assert (got == np.float32(kprox.FILL)).any()
