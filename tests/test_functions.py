"""Column-level functions must be bit-equal to their numpy kernel twins."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gdal_spark import functions as gf
from gdal_spark.kernels import cells, hilbert
from gdal_spark.sources.fixtures import POLY_BBOX


def test_cell_col_matches_kernel(spark):
    """JVM cell_col == numpy tile_xy, row by row: on random points, on
    the polygon fixture's edge endpoints, on the border values
    top_left +/- k*ts (where tile_bounds and tile_xy can disagree) and
    on their nextafter neighbours.  The spatial join's cell cover is
    classified with tile_xy and the points are keyed with cell_col."""
    from gdal_spark.kernels import wkb as kwkb
    from gdal_spark.sources.fixtures import polygons_pandas

    rng = np.random.RandomState(42)
    minx, miny, maxx, maxy = POLY_BBOX
    n = 5000
    xs = [rng.uniform(minx - 500, maxx + 500, n)]
    ys = [rng.uniform(miny - 500, maxy + 500, n)]
    for wkb in polygons_pandas()["wkb"]:
        for ring in kwkb.polygon_rings(bytes(wkb)):
            xs.append(ring[:, 0])
            ys.append(ring[:, 1])
    grid = cells.TileGrid.local(*POLY_BBOX)
    for z in (4, 6, 7, 8):
        ts = grid.tile_span(z)
        k = np.arange(-1, (1 << z) + 2)
        bx = np.concatenate([grid.top_left_x + k * ts, grid.top_left_x - k * ts])
        by = np.concatenate([grid.top_left_y - k * ts, grid.top_left_y + k * ts])
        for vx, vy in ((bx, by), (np.nextafter(bx, -np.inf), np.nextafter(by, np.inf)),
                       (np.nextafter(bx, np.inf), np.nextafter(by, -np.inf))):
            xs.append(vx)
            ys.append(vy)
            xs.append(rng.permutation(vx))  # border x with off-border y
            ys.append(rng.uniform(miny, maxy, vy.size))
    pdf = pd.DataFrame({"x": np.concatenate(xs), "y": np.concatenate(ys)})
    pdf["id"] = np.arange(len(pdf))
    df = spark.createDataFrame(pdf)
    for z in (4, 6, 7, 8):
        got = (df.select("id", gf.cell_col(grid, z, F.col("x"), F.col("y"))
                         .alias("cell")).toPandas().sort_values("id"))
        want = cells.cell_of_point(grid, z, pdf["x"].to_numpy(), pdf["y"].to_numpy())
        assert (got["cell"].to_numpy() == want).all(), z


def test_hilbert_col_matches_kernel(spark):
    rng = np.random.RandomState(7)
    n = 2000
    pdf = pd.DataFrame({
        "gx": rng.randint(0, 1 << 16, n).astype(np.int64),
        "gy": rng.randint(0, 1 << 16, n).astype(np.int64),
    })
    df = spark.createDataFrame(pdf).withColumn(
        "h", gf.hilbert_u32_col(F.col("gx"), F.col("gy")))
    got = {(r["gx"], r["gy"]): r["h"] for r in df.collect()}
    want = hilbert.hilbert_u32(pdf["gx"].to_numpy().astype(np.uint32),
                               pdf["gy"].to_numpy().astype(np.uint32))
    for (gx, gy), w in zip(zip(pdf["gx"], pdf["gy"]), want):
        assert got[(gx, gy)] == int(w)


def hilbert_key_col(px, py, minx: float, miny: float,
                    width: float, height: float):
    """Column twin of kernels.hilbert.hilbert_of_xy_f64: world point ->
    uint32 Hilbert key over a fixed extent."""
    if width != 0.0:
        gx = F.floor(F.lit(float(hilbert.HILBERT_MAX)) * (px - F.lit(minx)) / F.lit(width))
    else:
        gx = F.lit(0)
    if height != 0.0:
        gy = F.floor(F.lit(float(hilbert.HILBERT_MAX)) * (py - F.lit(miny)) / F.lit(height))
    else:
        gy = F.lit(0)
    return gf.hilbert_u32_col(gx.cast("long"), gy.cast("long"))


def test_hilbert_key_col_matches_kernel(spark):
    rng = np.random.RandomState(3)
    minx, miny, maxx, maxy = POLY_BBOX
    n = 1000
    pdf = pd.DataFrame({
        "x": rng.uniform(minx, maxx, n),
        "y": rng.uniform(miny, maxy, n),
    })
    w, h = maxx - minx, maxy - miny
    df = spark.createDataFrame(pdf).withColumn(
        "hk", hilbert_key_col(F.col("x"), F.col("y"), minx, miny, w, h))
    got = {(r["x"], r["y"]): r["hk"] for r in df.collect()}
    want = hilbert.hilbert_of_xy_f64(pdf["x"].to_numpy(), pdf["y"].to_numpy(),
                                     minx, miny, w, h)
    for (x, y), wv in zip(zip(pdf["x"], pdf["y"]), want):
        assert got[(x, y)] == int(wv)


def test_covering_cells_col_matches_kernel(spark):
    grid = cells.TileGrid.local(*POLY_BBOX)
    z = 6
    minx, miny, maxx, maxy = POLY_BBOX
    pdf = pd.DataFrame({
        "xmin": [minx + 100, minx + 900], "ymin": [miny + 100, miny + 700],
        "xmax": [minx + 800, minx + 1500], "ymax": [miny + 600, miny + 1400],
    })
    df = spark.createDataFrame(pdf).withColumn(
        "cells", gf.covering_cells_col(grid, z, F.col("xmin"), F.col("ymin"),
                                       F.col("xmax"), F.col("ymax")))
    for row in df.collect():
        tx0, ty0, tx1, ty1 = grid.tile_range_for_bbox(
            z, row["xmin"], row["ymin"], row["xmax"], row["ymax"])
        want = {
            int(cells.pack_cell(z, x, y))
            for x in range(tx0, tx1 + 1) for y in range(ty0, ty1 + 1)
        }
        assert set(row["cells"]) == want


def test_parent_cell_col(spark):
    df = spark.range(1).select(
        gf.parent_cell_col(F.lit(int(cells.pack_cell(5, 21, 13)))).alias("p"))
    assert df.collect()[0]["p"] == int(cells.pack_cell(4, 10, 6))


def test_cell_encoding_is_wholestage_codegen(spark):
    """The cell-encode plan must stay JVM-side (no BatchEvalPython)."""
    grid = cells.TileGrid.local(*POLY_BBOX)
    df = spark.range(100).select(
        (F.col("id") * 1.0 + 478400).alias("x"), F.lit(4763000.0).alias("y"))
    df = df.withColumn("cell", gf.cell_col(grid, 9, F.col("x"), F.col("y")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
