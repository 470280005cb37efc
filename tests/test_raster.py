"""Raster stack tests: rasterize/pyramid/checksum/polygonize.

The load-bearing property everywhere is TILE-SPLIT INVARIANCE: the
distributed (per-tile) result assembled back together must equal the
single-array kernel result — that is what makes the operators correct
at any partitioning, i.e. at any scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gdal_spark.kernels import checksum as kck
from gdal_spark.kernels import rasterize as kr
from gdal_spark.kernels import wkb as kwkb
from gdal_spark.kernels.cells import TileGrid
from gdal_spark.operators.polygonize import polygonize_tiles
from gdal_spark.operators.raster_tile import (
    build_pyramid, pyramid_reduce, raster_stats, rasterize_tiles)
from gdal_spark.sources import fixtures as fx
from reference_twins import polygonize_array

TS = 64
ZOOM = 3  # 8x8 tiles of 64px => 512^2 world


def _grid():
    return TileGrid.local(*fx.POLY_BBOX, tile_size=TS)


def _polys_df(spark):
    return spark.createDataFrame(fx.polygons_pandas())


def _assemble(rows, ts=TS, n=1 << ZOOM, dtype="uint8"):
    img = np.zeros((n * ts, n * ts), dtype=dtype)
    for r in rows:
        arr = np.frombuffer(r["px"], dtype=dtype).reshape(ts, ts)
        img[r["ty"] * ts:(r["ty"] + 1) * ts, r["tx"] * ts:(r["tx"] + 1) * ts] = arr
    return img


def _direct_burn(grid, zoom, value_col=None):
    """Single-array reference burn of the fixture polygons."""
    n = 1 << zoom
    img = np.zeros((n * TS, n * TS), dtype=np.uint8)
    gt = (grid.top_left_x, grid.resolution(zoom), 0.0,
          grid.top_left_y, 0.0, -grid.resolution(zoom))
    for _, row in fx.polygons_pandas().sort_values("fid").iterrows():
        rings = kwkb.polygon_rings(bytes(row["wkb"]))
        px = [kr.world_to_pixel(r, gt) for r in rings]
        val = float(row[value_col]) if value_col else 1.0
        kr.fill_polygon(img, px, val)
    return img


def test_rasterize_tile_split_invariance(spark):
    grid = _grid()
    tiles = rasterize_tiles(_polys_df(spark), grid, ZOOM, burn=1.0,
                            tile_size=TS).collect()
    got = _assemble(tiles)
    want = _direct_burn(grid, ZOOM)
    assert got.sum() > 0
    np.testing.assert_array_equal(got, want)
    # per-tile checksums match the kernel on the assembled windows
    for r in tiles:
        win = want[r["ty"] * TS:(r["ty"] + 1) * TS, r["tx"] * TS:(r["tx"] + 1) * TS]
        assert r["checksum"] == kck.checksum(win)


def test_rasterize_attribute_burn(spark):
    grid = _grid()
    tiles = rasterize_tiles(_polys_df(spark), grid, ZOOM, value_col="eas_id",
                            dtype="uint8", tile_size=TS).collect()
    got = _assemble(tiles)
    want = _direct_burn(grid, ZOOM, value_col="eas_id")
    np.testing.assert_array_equal(got, want)
    assert set(np.unique(got)) > {0}


def test_pyramid_matches_direct_decimation(spark):
    grid = _grid()
    tiles = rasterize_tiles(_polys_df(spark), grid, ZOOM, value_col="eas_id",
                            tile_size=TS)
    lower = pyramid_reduce(tiles, ZOOM, method="average", tile_size=TS).collect()
    full = _direct_burn(grid, ZOOM, value_col="eas_id").astype(np.int64)
    want = ((full[::2, ::2] + full[::2, 1::2] + full[1::2, ::2]
             + full[1::2, 1::2] + 2) // 4).astype(np.uint8)
    got = _assemble(lower, n=1 << (ZOOM - 1))
    np.testing.assert_array_equal(got, want)

    near = pyramid_reduce(tiles, ZOOM, method="near", tile_size=TS).collect()
    np.testing.assert_array_equal(_assemble(near, n=1 << (ZOOM - 1)),
                                  full[::2, ::2].astype(np.uint8))


def test_build_pyramid_levels(spark):
    grid = _grid()
    tiles = rasterize_tiles(_polys_df(spark), grid, ZOOM, tile_size=TS)
    pyr = build_pyramid(tiles, ZOOM, down_to=0, tile_size=TS)
    by_z = {r["z"]: 0 for r in pyr.select("z").distinct().collect()}
    assert set(by_z) == {0, 1, 2, 3}


def test_checksum_golden():
    px = (np.arange(400, dtype=np.int64) * 7 % 256).astype(np.uint8)
    assert kck.checksum(px.reshape(20, 20)) == kck.GRID20_GOLDEN


def test_raster_stats(spark):
    grid = _grid()
    tiles = rasterize_tiles(_polys_df(spark), grid, ZOOM, value_col="eas_id",
                            tile_size=TS)
    rows = tiles.collect()
    row = raster_stats(tiles).collect()[0]
    full = _direct_burn(grid, ZOOM, value_col="eas_id").astype(np.float64)
    # sparse tile table: stats cover only materialized (intersecting) tiles
    wins = np.concatenate([
        full[r["ty"] * TS:(r["ty"] + 1) * TS,
             r["tx"] * TS:(r["tx"] + 1) * TS].ravel()
        for r in rows
    ])
    assert row["n"] == wins.size
    assert row["vmin"] == wins.min() and row["vmax"] == wins.max()
    assert abs(row["mean"] - wins.mean()) < 1e-9


# ------------------------------------------------------------- polygonize
def _norm_ring(r):
    pts = [tuple(p) for p in np.asarray(r)[:-1].tolist()]
    k = pts.index(min(pts))
    pts = pts[k:] + pts[:k]
    return tuple(pts)


def _norm_result(polys):
    """Comparable form: multiset of (value, pixel_count, ring set)."""
    out = []
    for p in polys:
        rings = frozenset(_norm_ring(r) for r in p["rings"])
        out.append((int(p["value"]), int(p["pixel_count"]), rings))
    return sorted(out, key=lambda x: (x[0], x[1], sorted(map(sorted, x[2]))[:1]))


def _tiles_df(spark, arr, ts):
    n = arr.shape[0] // ts
    rows = [
        {"tx": tx, "ty": ty,
         "px": bytearray(arr[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
                         .astype(np.uint8).tobytes())}
        for ty in range(n) for tx in range(n)
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


@pytest.mark.parametrize("connect8", [False, True])
def test_polygonize_tile_split_invariance(spark, connect8):
    rng = np.random.RandomState(7)
    ts, n = 16, 4
    arr = rng.randint(0, 3, size=(n * ts, n * ts)).astype(np.uint8)
    # grow blobby regions so components span tiles
    arr = np.maximum(arr, np.roll(arr, 1, axis=0))
    arr = np.maximum(arr, np.roll(arr, 1, axis=1))

    want = polygonize_array(arr, connect8=connect8, nodata=0)
    got_rows = polygonize_tiles(
        _tiles_df(spark, arr, ts), tile_size=ts, connect8=connect8, nodata=0
    ).collect()
    got = [
        {"value": r["value"], "pixel_count": r["pixel_count"],
         "rings": kwkb.polygon_rings(bytes(r["wkb"]))}
        for r in got_rows
    ]
    assert len(got) == len(want)
    assert _norm_result(got) == _norm_result(want)


def test_polygonize_rasterize_roundtrip(spark):
    """rasterize(poly) -> polygonize -> per-value pixel counts agree."""
    grid = _grid()
    tiles = rasterize_tiles(_polys_df(spark), grid, ZOOM, value_col="eas_id",
                            tile_size=TS)
    res = grid.resolution(ZOOM)
    gt = (grid.top_left_x, res, 0.0, grid.top_left_y, 0.0, -res)
    polys = polygonize_tiles(tiles, tile_size=TS, nodata=0,
                             geotransform=gt).collect()
    full = _direct_burn(grid, ZOOM, value_col="eas_id")
    want_counts = {
        int(v): int((full == v).sum()) for v in np.unique(full) if v != 0
    }
    got_counts: dict[int, int] = {}
    for r in polys:
        got_counts[r["value"]] = got_counts.get(r["value"], 0) + r["pixel_count"]
    assert got_counts == want_counts


def test_raster_stats_welford_pathological(spark):
    """High-mean/low-variance band: the stable Chan/Welford merge must
    match numpy where the raw E[x^2]-E[x]^2 form loses all digits."""
    import numpy as np
    import pandas as pd

    from gdal_spark.operators.raster_tile import raster_stats

    rng = np.random.default_rng(3)
    base = 1.0e9
    tiles = []
    vals = []
    for i in range(4):
        a = base + rng.normal(0.0, 1e-3, 32 * 32)
        vals.append(a)
        tiles.append({"z": 0, "tx": i, "ty": 0, "band": 1,
                      "px": a.astype(np.float64).tobytes(), "checksum": 0})
    df = spark.createDataFrame(pd.DataFrame(tiles))
    got = raster_stats(df, dtype="float64", stable=True).collect()[0]
    allv = np.concatenate(vals)
    assert got["n"] == allv.size
    assert got["mean"] == pytest.approx(allv.mean(), rel=1e-12)
    assert got["stddev"] == pytest.approx(allv.std(), rel=1e-6)
    assert allv.std() > 1e-4  # the signal the naive form destroys


def test_polygonize_boundary_assembler_parity(spark):
    """The perimeter-state assembler (scale path for huge components)
    must agree with the bbox/trace_rings path on component identity,
    pixel counts, ring counts, and ring areas — donut spanning 4
    tiles (outer ring + hole)."""
    import numpy as np
    import pandas as pd

    from gdal_spark.kernels import wkb as kwkb
    from gdal_spark.operators.polygonize import polygonize_tiles

    ts = 32
    a = np.zeros((64, 64), dtype=np.uint8)
    a[8:56, 8:56] = 5
    a[24:40, 24:40] = 0
    tiles = spark.createDataFrame(pd.DataFrame([
        {"tx": tx, "ty": ty,
         "px": a[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts].tobytes()}
        for ty in range(2) for tx in range(2)]))

    def norm(df):
        out = {}
        for r in df.collect():
            areas = sorted(
                round(abs(
                    float(np.sum(ring[:-1, 0] * ring[1:, 1]
                                 - ring[1:, 0] * ring[:-1, 1])) / 2.0), 6)
                for ring in kwkb.polygon_rings(bytes(r["wkb"])))
            out[r["comp"]] = (r["value"], r["pixel_count"],
                              r["n_rings"], tuple(areas))
        return out

    got_bbox = norm(polygonize_tiles(tiles, tile_size=ts, nodata=0,
                                     assemble="bbox"))
    got_bnd = norm(polygonize_tiles(tiles, tile_size=ts, nodata=0,
                                    assemble="boundary"))
    assert got_bbox == got_bnd
    (comp_info,) = got_bnd.values()
    assert comp_info[1] == 48 * 48 - 16 * 16   # pixel count
    assert comp_info[2] == 2                   # outer + hole
    assert comp_info[3] == (256.0, 2304.0)     # ring areas


def test_polygonize_boundary_ring_order_outer_first(spark):
    """The boundary assembler must emit the EXTERIOR ring first in the
    WKB (ring ids are hash-derived, so only the |area| ordering
    guarantees it); regression for a donut whose hole hashed lower."""
    from gdal_spark.kernels import wkb as kwkb
    from gdal_spark.operators.polygonize import polygonize_tiles

    ts = 16
    img = np.zeros((ts, ts), dtype=np.uint8)
    img[2:14, 2:14] = 7
    img[6:10, 6:10] = 0                    # hole -> donut component
    tiles = spark.createDataFrame(pd.DataFrame([{
        "z": 0, "tx": 0, "ty": 0, "band": 1,
        "px": img.tobytes(), "checksum": 0}]))
    out = polygonize_tiles(tiles, tile_size=ts, nodata=0,
                           assemble="boundary").collect()
    donut = [r for r in out if r["n_rings"] == 2]
    assert donut, "expected a two-ring component"
    rings = kwkb.polygon_rings(bytes(donut[0]["wkb"]))
    def _abs_area(r):
        x, y = r[:, 0], r[:, 1]
        return abs(float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))) / 2
    assert _abs_area(np.asarray(rings[0])) > _abs_area(np.asarray(rings[1]))


def test_raster_histogram_semantics(spark):
    """GetHistogram bucket rule (gdalrasterband.cpp:4462-4477):
    floor((v-min)*scale), out-of-range clamped into the end buckets
    when included and dropped otherwise; nodata pixels skipped;
    empty buckets densified to zero; multi-tile counts merge."""
    from gdal_spark.operators.raster_tile import raster_histogram

    a = np.array([0, 5, 10, 19, 20, 99, 100, 199, 200, 255, 7, 7],
                 dtype=np.uint8)
    tiles = spark.createDataFrame(pd.DataFrame({
        "px": [a[:6].tobytes(), a[6:].tobytes()],
    }))

    # min=10 max=200 n=19 -> scale 0.1, bucket width 10
    rows = {r["bucket"]: r["cnt"]
            for r in raster_histogram(tiles, 10.0, 200.0, 19,
                                      include_out_of_range=True,
                                      dtype="uint8").collect()}
    assert len(rows) == 19
    # below-range 0,5,7,7 -> bucket 0, plus 10 and 19 in range
    assert rows[0] == 6
    assert rows[1] == 1          # 20
    assert rows[8] == 1          # 99
    assert rows[9] == 1          # 100
    assert rows[18] == 1 + 2     # 199 in range; 200,255 clamp into last
    assert sum(rows.values()) == a.size

    drop = {r["bucket"]: r["cnt"]
            for r in raster_histogram(tiles, 10.0, 200.0, 19,
                                      include_out_of_range=False,
                                      dtype="uint8").collect()}
    assert sum(drop.values()) == a.size - 4 - 2  # 0,5,7,7 and 200,255 dropped
    assert drop[0] == 2          # only 10 and 19 remain in bucket 0

    nod = {r["bucket"]: r["cnt"]
           for r in raster_histogram(tiles, 10.0, 200.0, 19,
                                     include_out_of_range=True,
                                     nodata=7.0, dtype="uint8").collect()}
    assert sum(nod.values()) == a.size - 2


def test_translate_window_matches_slice(spark):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from gdal_spark.operators.raster_tile import translate_window

    n, ts = 256, 64
    idx = np.arange(n * n).reshape(n, n)
    full = ((idx * 11 + 3) % 256).astype(np.uint8)

    def _mk(key, pdf):
        rows = []
        for ty in range(n // ts):
            for tx in range(n // ts):
                rows.append({"tx": tx, "ty": ty,
                             "px": full[ty*ts:(ty+1)*ts,
                                        tx*ts:(tx+1)*ts].tobytes()})
        return pd.DataFrame(rows)

    tiles = (spark.range(1).withColumn("_g", F.lit(1)).groupBy("_g")
             .applyInPandas(_mk, "tx long, ty long, px binary"))
    for (x0, y0, w, h, ots) in [(0, 0, 256, 256, 64), (13, 37, 100, 90, 32),
                                (63, 1, 65, 130, 64), (200, 200, 56, 56, 16)]:
        out = translate_window(tiles, x0, y0, w, h, tile_size=ts,
                               out_tile_size=ots).collect()
        canvas = np.zeros(((h + ots - 1)//ots*ots,
                           (w + ots - 1)//ots*ots), dtype=np.uint8)
        for r in out:
            t = np.frombuffer(r["px"], dtype=np.uint8).reshape(ots, ots)
            canvas[r["ty"]*ots:(r["ty"]+1)*ots,
                   r["tx"]*ots:(r["tx"]+1)*ots] = t
        assert (canvas[:h, :w] == full[y0:y0+h, x0:x0+w]).all(), (x0, y0)


def test_tile_index_manifest(spark):
    # gdaltindex role: envelope + ring order top-left -> top-right ->
    # bottom-right -> bottom-left -> close (gdaltindex_lib.cpp:1060-1072)
    from gdal_spark.kernels.cells import TileGrid
    from gdal_spark.operators.raster_tile import tile_index

    tiles = spark.createDataFrame(
        [(0, 0), (0, 0), (1, 2)], "tx long, ty long")
    grid = TileGrid(0.0, 256.0, 256.0)
    rows = {(r["tx"], r["ty"]): r
            for r in tile_index(tiles, grid, 3).collect()}
    assert rows[(0, 0)]["n_rows"] == 2 and rows[(1, 2)]["n_rows"] == 1
    r = rows[(1, 2)]
    assert (r["xmin"], r["ymin"], r["xmax"], r["ymax"]) == \
        (32.0, 160.0, 64.0, 192.0)
    assert r["location"] == "3/1/2"
    assert r["wkt"] == ("POLYGON((32.0 192.0,64.0 192.0,64.0 160.0,"
                        "32.0 160.0,32.0 192.0))")
