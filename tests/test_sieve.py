"""Sieve + footprint: tile-split invariance vs the numpy kernels."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gdal_spark.kernels import sieve as ks
from gdal_spark.kernels import wkb as kwkb
from gdal_spark.operators.sieve import footprint_tiles, sieve_tiles
from reference_twins import sieve_to_array

TS, N = 16, 2


def _arr():
    rng = np.random.RandomState(5)
    a = rng.randint(0, 3, size=(N * TS, N * TS)).astype(np.uint8)
    a = np.maximum(a, np.roll(a, 1, axis=0))
    a = np.maximum(a, np.roll(a, 2, axis=1))
    return a


def _tiles_df(spark, arr):
    rows = [
        {"tx": tx, "ty": ty,
         "px": bytearray(arr[ty * TS:(ty + 1) * TS, tx * TS:(tx + 1) * TS]
                         .tobytes())}
        for ty in range(N) for tx in range(N)
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_sieve_tile_split_invariance(spark):
    arr = _arr()
    want = ks.sieve_array(arr, threshold=8, nodata=None)
    got_runs = sieve_tiles(_tiles_df(spark, arr), threshold=8,
                           tile_size=TS, nodata=None).collect()
    got = sieve_to_array(got_runs, arr.shape)
    np.testing.assert_array_equal(got, want.astype(np.int64))
    # small components really are gone
    from gdal_spark.kernels.polygonize import label_components
    labels, n = label_components(got, nodata=None)
    sizes = np.bincount(labels.ravel(), minlength=n + 1)[1:]
    assert (sizes >= 8).all()


def test_sieve_threshold_one_is_identity(spark):
    arr = _arr()
    got_runs = sieve_tiles(_tiles_df(spark, arr), threshold=1,
                           tile_size=TS, nodata=None).collect()
    got = sieve_to_array(got_runs, arr.shape)
    np.testing.assert_array_equal(got, arr.astype(np.int64))


def test_footprint(spark):
    arr = np.zeros((N * TS, N * TS), dtype=np.uint8)
    arr[5:20, 4:28] = 3      # one valid blob spanning tiles
    arr[24:30, 2:9] = 7      # another
    polys = footprint_tiles(_tiles_df(spark, arr), tile_size=TS).collect()
    assert len(polys) == 2
    counts = sorted(p["pixel_count"] for p in polys)
    assert counts == [6 * 7, 15 * 24]
    for p in polys:
        rings = kwkb.polygon_rings(bytes(p["wkb"]))
        assert len(rings) >= 1


def test_sieve_merge_cascade_semantics():
    """FORMULA-DIFF pin (queries/_goldens.py): simultaneous rounds —
    each small component adopts its LARGEST current neighbor (ties ->
    smallest component id), iterated to fixpoint, so chains of small
    blobs collapse into the dominant region over rounds."""
    a = np.zeros((5, 12), dtype=np.uint8)
    a[:, :6] = 7                 # dominant region, 30 px
    a[2, 6] = 1                  # small blob touching dominant + next
    a[2, 7] = 2                  # small blob touching blob 1 + field 0
    out = ks.sieve_array(a, threshold=4, connect8=False, nodata=None)
    # round 1: blob 1 (size 1) -> largest neighbor = region 7; blob 2
    # -> largest neighbor = the 0-field; fixpoint reached
    assert out[2, 6] == 7
    assert out[2, 7] == 0
    # tie-break: two equal-size neighbors -> smallest component id
    b = np.zeros((1, 5), dtype=np.uint8)
    b[0] = [3, 3, 9, 4, 4]       # middle single pixel, neighbors 2+2
    out2 = ks.sieve_array(b, threshold=2, connect8=False, nodata=0)
    # components are labeled in scan order: [3,3] gets the smaller id
    assert out2[0, 2] == 3
