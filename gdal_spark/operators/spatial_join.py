"""Two-phase cell-indexed spatial join (the engine's flagship operator).

Reproduces the reference's two-phase spatial filter — bbox reject,
bbox-inside accept, exact test (ogrlayer.cpp:2253-2325) — as a
distributed plan:

  phase 1 (coarse candidates, one generator per cell system):
      quadtree (``spatial_join``): points -> cell id (Column math);
      polygons -> covering cell set (sequence + explode); equi-join
      on cell — broadcast when the polygon side is small, else
      shuffle with explicit hot-cell salting (north_rule), on top of
      AQE's skew handling;
      S2 (``spatial_join_s2``): the same equi-join on S2 cell keys.

  phase 2 (``_exact_tail``, shared by both generators):
      envelope pretest as a Column predicate; ray-cast PIP as a JVM
      fold over the fid's broadcast edge array — bit-identical to
      OGRLinearRing::isPointInRing (ogrlinearring.cpp:462-532);
      polygon attributes by fid; OGR first-match / LEFT JOIN shape.

Matching GDAL's index-nested-loop (SetSpatialFilter per feature,
ogrlayer.cpp:3345) result set with a shuffle plan that survives
10^12 rows.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .. import functions as gf
from ..kernels.cells import TileGrid
from ..kernels import wkb as kwkb

DEFAULT_ZOOM = 12


def extract_geo_points(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) -> + (x, y) from the first geo span.

    Pure Column ops (filter/element_at + string slicing on the POINT
    WKT) — no Python in the scan path.  Preserves `spans` untouched
    so the span-sequence invariant can be checked on every output.
    """
    geo = F.element_at(F.filter("spans", lambda s: s["kind"] == F.lit("geo")), 1)
    inner = F.regexp_extract(geo["text"], r"POINT\(([-0-9.]+) ([-0-9.]+)\)", 1)
    inner_y = F.regexp_extract(geo["text"], r"POINT\(([-0-9.]+) ([-0-9.]+)\)", 2)
    return docs.withColumn("x", inner.cast("double")).withColumn(
        "y", inner_y.cast("double"))


def polygon_cells(polys: DataFrame, grid: TileGrid, zoom: int) -> DataFrame:
    """polygons -> one row per covering cell (coarse index side)."""
    return polys.withColumn(
        "cell",
        F.explode(gf.covering_cells_col(
            grid, zoom, F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))),
    )


_EDGES_SCHEMA = ("fid bigint, edges array<struct<ex1:double,ey1:double,"
                 "ex2:double,ey2:double>>")


def edges_table(polys: DataFrame) -> DataFrame:
    """(fid, edges array<struct>) table for the JVM exact phase,
    built DISTRIBUTIVELY (Arrow mapInPandas over wkb) — never a
    driver collect, so a 10^6-polygon layer decodes in parallel on
    executors.  Edges use the kernel's (vertex i+1, vertex i)
    pairing; even-odd crossings over the full edge set handles holes
    exactly like points_in_polygon."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fids, edge_lists = [], []
            for fid, wkb in zip(pdf["fid"], pdf["wkb"]):
                edges = []
                for ring in kwkb.polygon_rings(bytes(wkb)):
                    for i in range(len(ring) - 1):
                        edges.append({
                            "ex1": float(ring[i + 1][0]),
                            "ey1": float(ring[i + 1][1]),
                            "ex2": float(ring[i][0]),
                            "ey2": float(ring[i][1]),
                        })
                fids.append(int(fid))
                edge_lists.append(edges)
            yield pd.DataFrame({"fid": fids, "edges": edge_lists})

    return polys.select("fid", "wkb").mapInPandas(gen, _EDGES_SCHEMA)


def prepare_edges(polys: DataFrame) -> DataFrame:
    """Build and persist the exact-phase edge table for a polygon
    layer ONCE, for reuse across spatial_join calls.

    The edge build is the only Python (Arrow) stage in the join; a
    layer queried repeatedly (the tile pipeline, the bench, any
    dashboard) should pay it once, not per call.  The caller owns the
    lifecycle (``.unpersist()`` when done) — deliberately no hidden
    module-level registry (see round-2 wrong #3).  Persisted
    MEMORY_AND_DISK: spills under pressure, recomputes on loss.
    """
    from pyspark import StorageLevel

    return edges_table(polys).persist(StorageLevel.MEMORY_AND_DISK)


def _exact_tail(cand: DataFrame, points: DataFrame, polys: DataFrame,
                edges: DataFrame | None, broadcast: bool | None,
                first_match: bool, how: str) -> DataFrame:
    """Phase 1b + 2 of every candidate generator.

    cand: the point columns + (cell, fid, xmin, ymin, xmax, ymax) of
    each candidate (point, polygon) pair.  Envelope pretest, JVM
    ray-cast over the fid's edge array (no Python workers), polygon
    attributes by fid, then the OGR join shape.  The whole point row is the point's identity — null-safe,
    with multiplicity — so ``first_match`` returns one row per input
    row and ``how='left'`` exactly the input rows without a match.
    """
    if edges is None:
        edges = edges_table(polys)
    if broadcast is not False:
        edges = F.broadcast(edges)
    matched = (
        cand.filter(
            (F.col("x") >= F.col("xmin")) & (F.col("x") <= F.col("xmax"))
            & (F.col("y") >= F.col("ymin")) & (F.col("y") <= F.col("ymax")))
        .join(edges, "fid", "inner")
        .filter(gf.pip_inside_col(F.col("edges"), F.col("x"), F.col("y")))
        .drop("edges", "cell", "xmin", "ymin", "xmax", "ymax"))

    # re-attach full polygon attributes (cheap broadcast by fid)
    attrs = polys.drop("wkb", "xmin", "ymin", "xmax", "ymax")
    matched = matched.join(F.broadcast(attrs), "fid", "inner")

    if first_match:
        w = Window.partitionBy(*points.columns).orderBy(F.col("fid").asc())
        matched = (matched.withColumn("_rk", F.rank().over(w))
                   .filter(F.col("_rk") == 1).drop("_rk"))
    if how == "left":
        unmatched = points.exceptAll(matched.select(*points.columns))
        matched = matched.unionByName(unmatched, allowMissingColumns=True)
    return matched


def spatial_join(points: DataFrame, polys: DataFrame, grid: TileGrid,
                 zoom: int = DEFAULT_ZOOM, how: str = "inner",
                 broadcast: bool | None = None, salt: int | str = 0,
                 first_match: bool = False,
                 edges: DataFrame | None = None) -> DataFrame:
    """Join point rows to containing polygons.

    points : any DF with double columns x, y (see extract_geo_points)
    polys  : DF with fid bigint, wkb binary, xmin/ymin/xmax/ymax double
    how    : 'inner' (matches only) or 'left' (keep unmatched points,
             null polygon attrs — OGR LEFT JOIN shape)
    broadcast : True = broadcast-hint the polygon cell index, False =
             force a shuffle join, None = leave the choice to Catalyst
             statistics + AQE runtime re-planning (no extra driver
             action — a count here would serialize every call)
    salt   : replicate the polygon index `salt` ways and scatter
             points by a doc hash — explicit hot-cell skew remedy on
             top of AQE (north_rule).  0/1 = unsalted.
    first_match : emit at most one polygon per point (lowest fid) —
             OGR SQL join cardinality (ogr_gensql.cpp:1497-1527).
    edges  : pre-built edge table from ``prepare_edges(polys)`` —
             reuses one persisted edge build across repeated joins on
             the same layer instead of a fresh Python stage per call.

    On a streaming ``points`` frame with ``broadcast=True`` this is the
    stream-static join: Structured Streaming runs it statelessly per
    micro-batch (inner only; ``first_match`` and ``how='left'`` need
    batch input).
    """
    pts = points.withColumn("cell", gf.cell_col(grid, zoom, F.col("x"), F.col("y")))

    pcells = polygon_cells(polys, grid, zoom).select(
        "cell", "fid", "xmin", "ymin", "xmax", "ymax")

    if salt == "auto":
        # hot-cell diagnostic on the POINT side drives the salt factor
        # (north_rule: explicit salting for coastline/metro hot cells)
        from .partitioning import choose_salt

        salt = choose_salt(pts, "cell")

    if salt and salt > 1:
        pts = pts.withColumn("_salt", F.pmod(F.xxhash64(F.col("x"), F.col("y")),
                                             F.lit(salt)).cast("int"))
        pcells = pcells.withColumn("_salt", F.explode(
            F.sequence(F.lit(0), F.lit(salt - 1)))).withColumn(
            "_salt", F.col("_salt").cast("int"))
        join_keys = ["cell", "_salt"]
    else:
        join_keys = ["cell"]

    if broadcast is True:
        right = F.broadcast(pcells)
    elif broadcast is False:
        right = pcells.hint("shuffle_hash")
    else:
        # Catalyst's parquet-stat size estimate picks broadcast for a
        # small dim; AQE converts sort-merge -> broadcast at runtime
        # otherwise.  No driver-side count per call.
        right = pcells

    cand = pts.join(right, join_keys, "inner")
    if salt and salt > 1:
        cand = cand.drop("_salt")
    return _exact_tail(cand, points, polys, edges, broadcast, first_match, how)


def spatial_join_s2(points: DataFrame, polys: DataFrame,
                    level: int = 8, how: str = "inner",
                    broadcast: bool | None = None,
                    first_match: bool = False,
                    edges: DataFrame | None = None) -> DataFrame:
    """S2-keyed variant of the two-phase spatial join (the north
    star's "H3/S2 cell" join path; the quadtree ``spatial_join`` is
    the planar twin — results must be identical, asserted by the
    pip_join_s2 oracle and tests).

    Phase 1 keys both sides on level-``level`` S2 cells: points via
    the Arrow pandas UDF (kernels/s2.py, one key per point), polygons
    via the bbox coverer (overcovering candidate set; undercoverage
    bounded by the coverer's dilation rule).  Phase 1b/2 are the SAME
    ``_exact_tail`` as spatial_join, so the exact semantics are shared,
    not re-implemented.

    points: DF with lon/lat degree columns named x, y.
    polys:  DF(fid, wkb, xmin/ymin/xmax/ymax) in the same lon/lat CRS.
    """
    from ..kernels import s2 as ks2

    pts = points.withColumn(
        "_c", gf.s2_cell_pandas_key(F.col("x"), F.col("y"), level)
    ).withColumnRenamed("_c", "cell")

    def _cover(batches):
        for pdf in batches:
            rows = {"cell": [], "fid": [], "xmin": [], "ymin": [],
                    "xmax": [], "ymax": []}
            for _, r in pdf.iterrows():
                keys = ks2.cover_bbox_lonlat(
                    r["xmin"], r["ymin"], r["xmax"], r["ymax"], level)
                for kk in keys:
                    rows["cell"].append(int(kk))
                    rows["fid"].append(int(r["fid"]))
                    for c in ("xmin", "ymin", "xmax", "ymax"):
                        rows[c].append(float(r[c]))
            yield pd.DataFrame(rows)

    pcells = polys.select("fid", "xmin", "ymin", "xmax", "ymax") \
        .mapInPandas(_cover, "cell long, fid long, xmin double, "
                             "ymin double, xmax double, ymax double")

    right = F.broadcast(pcells) if broadcast is True else pcells
    # a point has exactly ONE cell key, so no (point, fid) pair repeats
    cand = pts.join(right, "cell", "inner")
    return _exact_tail(cand, points, polys, edges, broadcast, first_match, how)
