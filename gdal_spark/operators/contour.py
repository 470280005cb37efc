"""Distributed contour: tiles -> stitched iso-polylines per level.

The reference walks the whole raster with a two-row marching-squares
window (/root/reference/alg/contour.cpp; alg/marching_squares/).
Distributed:

  1. tiles assemble a 1-px halo through the shared exchange
     (``operators.focal.halo_apply``); a marching cell's corners can
     span a tile border, so the east/south strips are read, and each
     tile OWNS the cells whose top-left pixel it holds, so every cell
     is computed exactly once;
  2. per tile (the exchange's grouped stage): marching-squares
     segments in GLOBAL pixel-center coordinates — crossing points on
     shared edges are bit-identical across tiles (same two corner
     values, same ops);
  3. segment connectivity: segments sharing an endpoint join into one
     line — the same iterative min-label propagation used by
     polygonize, with exact (double, double) endpoint structs as
     join keys;
  4. per line id (applyInPandas): chain the segments into an ordered
     polyline (kernels.contour.stitch ordering), emit WKB LineString.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernels import contour as kc
from ..kernels import wkb as kwkb
from .focal import halo_apply

SEG_SCHEMA = ("seg_id long, level double, x1 double, y1 double, "
              "x2 double, y2 double")
LINE_SCHEMA = "line_id long, level double, n_pts int, closed boolean, wkb binary"


def tile_segments(tiles: DataFrame, levels, dtype: str = "uint8",
                  tile_size: int = 256) -> DataFrame:
    """Steps 1-2: halo'd per-tile marching squares, globally-unique
    segment ids (tile id in the high bits)."""
    ts = tile_size
    lv = [float(l) for l in levels]

    def _march(tx, ty, band, padded) -> pd.DataFrame:
        ext = padded[1:, 1:]      # the tile + its east/south halo
        rows = []
        base = (tx << 42) | (ty << 21)   # < 2^21 segments per tile
        k = 0
        for li, level in enumerate(lv):
            # valid cells: all 4 corners present (NaN halo = dataset edge)
            h = ts if not np.isnan(ext[ts, 0]) else ts - 1
            w = ts if not np.isnan(ext[0, ts]) else ts - 1
            sub = ext[:h + 1, :w + 1]
            if np.isnan(sub).any():
                sub = np.where(np.isnan(sub), -np.inf, sub)
            segs = kc.array_segments(sub, level, y0=ty * ts, x0=tx * ts)
            for (p, q) in segs:
                rows.append((base + k, level, p[0], p[1], q[0], q[1]))
                k += 1
        return pd.DataFrame(rows, columns=[
            "seg_id", "level", "x1", "y1", "x2", "y2"])

    return halo_apply(tiles, 1, _march, SEG_SCHEMA, dtype, tile_size)


def _segment_lines(segs: DataFrame) -> DataFrame:
    """Step 3: connected segment clusters via min-label propagation on
    shared-endpoint edges (exact double equality)."""
    a = segs.select("seg_id", "level",
                    F.col("x1").alias("ex"), F.col("y1").alias("ey"))
    b = segs.select("seg_id", "level",
                    F.col("x2").alias("ex"), F.col("y2").alias("ey"))
    pts = a.unionByName(b)
    l = pts.select("level", "ex", "ey", F.col("seg_id").alias("n_a"))
    r = pts.select("level", "ex", "ey", F.col("seg_id").alias("n_b"))
    edges = (
        l.join(r, ["level", "ex", "ey"])
        .filter(F.col("n_a") != F.col("n_b"))
        .select("n_a", "n_b").distinct()
    )
    from .polygonize import global_labels

    nodes = segs.select(F.col("seg_id").alias("node")).distinct()
    # global_labels expects runs-like df with a node column
    comp = global_labels(nodes, edges)
    return comp.withColumnRenamed("node", "seg_id").withColumnRenamed(
        "comp", "line_id")


def contour_tiles(tiles: DataFrame, levels, dtype: str = "uint8",
                  tile_size: int = 256, geotransform=None) -> DataFrame:
    """Full distributed contour -> (line_id, level, n_pts, closed, wkb)."""
    segs = tile_segments(tiles, levels, dtype, tile_size)
    segs = segs.localCheckpoint(eager=True)
    lines = _segment_lines(segs)
    labeled = segs.join(lines, "seg_id")

    def _assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        line_id = int(key[0])
        seg_list = [
            ((row["x1"], row["y1"]), (row["x2"], row["y2"]))
            for _, row in pdf.iterrows()
        ]
        # a component usually chains into one polyline, but lines
        # touching at a point share a component -> emit every chain
        chains = kc.stitch_segments(seg_list)
        out = []
        for i, pts in enumerate(chains):
            closed = pts[0] == pts[-1] and len(pts) > 1
            arr = np.array(pts, dtype=np.float64)
            if geotransform is not None:
                ox, rx, _, oy, _, nry = geotransform
                arr = np.column_stack([
                    ox + (arr[:, 0] + 0.5) * rx,
                    oy + (arr[:, 1] + 0.5) * nry])
            out.append({
                "line_id": line_id * 16 + i,
                "level": float(pdf.iloc[0]["level"]),
                "n_pts": len(pts),
                "closed": closed,
                "wkb": kwkb.wkb_linestring(arr),
            })
        return pd.DataFrame(out)

    return labeled.groupBy("line_id").applyInPandas(_assemble, LINE_SCHEMA)
