"""Two-phase cell-indexed spatial join (the engine's flagship operator).

Reproduces the reference's two-phase spatial filter — bbox reject,
bbox-inside accept, exact test (ogrlayer.cpp:2253-2325) — as a
distributed plan:

  phase 1 (coarse candidates; one cover builder, two cell systems):
      points -> cell id; polygons -> ``cell_cover``, one numpy Arrow
      stage whose per-polygon cell function is the cell system: the
      quadtree classifies each bbox cell as inside, boundary or
      outside (outside cells get no row), S2 covers the vertex
      envelope with boundary cells carrying the full ring; one
      equi-join step (``_cell_join``) on cell — broadcast when the
      cover is small, else shuffle with explicit hot-cell salting
      (north_rule) on top of AQE's skew handling.

  phase 2 (``_exact_tail``, shared by both cell systems):
      envelope pretest as a Column predicate; inside cells accept (the
      bbox-inside accept); the rest ray-cast as a JVM fold over the
      candidate's edge array (a boundary cell's row edges, or the full
      ring) — bit-identical to OGRLinearRing::isPointInRing
      (ogrlinearring.cpp:462-532); OGR first-match / LEFT JOIN shape.

The polygon attributes ride in the cover (and edge table) rows as one
struct column, ``_attrs``, so the small polygon side is broadcast once
per join: a second broadcast of the attributes by fid would cost a
Spark job of its own.

The polygon side's Arrow stages run where the layer lives
(``placement.arrow_map``): on the driver for a layer it holds, with no
Python worker and a broadcast-hinted cover, else as a ``mapInArrow``.

Matching GDAL's index-nested-loop (SetSpatialFilter per feature,
ogrlayer.cpp:3345) result set with a shuffle plan that survives
10^12 rows.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import StructField, StructType

from .. import functions as gf
from ..kernels.cells import TileGrid, pack_cell
from ..kernels import pip as kpip
from ..kernels import s2 as ks2
from ..kernels import wkb as kwkb
from ..placement import arrow_map, broadcast_fit, decide, on_driver

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
    """polygons -> one row per cell of the bbox (unclassified cover).

    ``spatial_join`` keys on ``cell_cover`` instead; this is the plain
    phase-1 plan that perfbench counts candidates with."""
    return polys.withColumn(
        "cell",
        F.explode(gf.covering_cells_col(
            grid, zoom, F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))),
    )


_EDGE_FIELDS = ("ex1", "ey1", "ex2", "ey2")
_EDGE_ARRAY = "array<struct<ex1:double,ey1:double,ex2:double,ey2:double>>"
_EDGES_SCHEMA = f"fid bigint, edges {_EDGE_ARRAY}"
_COVER_SCHEMA = ("cell bigint, fid bigint, xmin double, ymin double, "
                 f"xmax double, ymax double, inside boolean, edges {_EDGE_ARRAY}")
_ATTRS = "_attrs"
# polygon layer columns the operator consumes; every other one is an
# attribute (names match case-insensitively, like Spark's resolution)
_LAYER_KEYS = ("fid", "wkb", "xmin", "ymin", "xmax", "ymax")


def _attr_cols(polys: DataFrame) -> list[str]:
    return [c for c in polys.columns if c.lower() not in _LAYER_KEYS]


def _layer(polys: DataFrame) -> DataFrame:
    """(fid, wkb[, _attrs]) of a polygon layer: its attribute columns,
    in order, packed into one struct (absent when there are none)."""
    attrs = _attr_cols(polys)
    if not attrs:
        return polys.select("fid", "wkb")
    return polys.select("fid", "wkb", F.struct(
        *[F.col(f"`{c}`") for c in attrs]).alias(_ATTRS))


def _arrow_schema(ddl: str, layer: DataFrame) -> StructType:
    """Output schema ``ddl`` of an Arrow map over ``layer``, plus the
    layer's ``_attrs`` struct when it has one."""
    attrs = ([StructField(_ATTRS, layer.schema[_ATTRS].dataType)]
             if _ATTRS in layer.columns else [])
    return StructType(StructType.fromDDL(ddl).fields + attrs)


def _edge_lists(edges: np.ndarray, counts: np.ndarray):
    """Arrow list<struct<ex1..ey2>> whose row i holds the next
    ``counts[i]`` rows of the (M, 4) ``edges``."""
    import pyarrow as pa

    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    struct = pa.StructArray.from_arrays(
        [pa.array(edges[:, k]) for k in range(4)], names=list(_EDGE_FIELDS))
    return pa.ListArray.from_arrays(pa.array(offsets), struct)


def edges_table(polys: DataFrame) -> DataFrame:
    """(fid, edges array<struct>[, _attrs]) table for the JVM exact
    phase: one Arrow map over wkb, on the driver for a layer it holds,
    else distributed, so a 10^6-polygon file layer decodes in parallel
    on executors.  Edges use the kernel's (vertex i+1, vertex i)
    pairing; even-odd crossings over the full edge set handles holes
    exactly like points_in_polygon.  The layer's attribute columns
    (all but fid, wkb and the bbox) pass through, unchanged, as the
    ``_attrs`` struct the join's output expands."""
    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            per_row = [e for _, e in _polygon_edges(batch)]
            arrays = [batch.column("fid").cast(pa.int64()), _edge_lists(
                np.vstack([np.empty((0, 4)), *per_row]),
                np.array([len(e) for e in per_row], np.int64))]
            names = ["fid", "edges"]
            if _ATTRS in batch.schema.names:
                arrays.append(batch.column(_ATTRS))
                names.append(_ATTRS)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    layer = _layer(polys)
    return arrow_map(layer, gen, _arrow_schema(_EDGES_SCHEMA, layer),
                     "spatial_join.edges_table")


def prepare_edges(polys: DataFrame) -> DataFrame:
    """Build the exact-phase edge table (``edges_table``, attributes
    included) for a polygon layer ONCE, for reuse across spatial_join
    calls.

    The WKB decode is the polygon side's costly Arrow stage; a layer
    queried repeatedly (the tile pipeline, the bench, any dashboard)
    should pay it once, not per call.  The caller owns the lifecycle
    (``.unpersist()`` when done) — deliberately no hidden module-level
    registry (see round-2 wrong #3).  Persisted MEMORY_AND_DISK
    (spills under pressure, recomputes on loss), except the driver-built
    ``LocalRelation`` of a layer the driver holds.
    """
    from pyspark import StorageLevel

    edges = edges_table(polys)
    return edges if on_driver(edges)[1] else edges.persist(
        StorageLevel.MEMORY_AND_DISK)


# Coordinate magnitudes (0 or within [_TINY, _HUGE]) for which an edge
# wholly right of a point's column and straddling its y always yields
# inter > 0: no product or quotient of relative coordinates underflows
# to zero or overflows.
_TINY, _HUGE = 2.0 ** -300, 2.0 ** 400


def _plain(v) -> bool:
    a = np.abs(np.asarray(v, dtype=np.float64))
    return bool(np.all((a == 0) | ((a >= _TINY) & (a <= _HUGE))))


def _classify(e: np.ndarray, grid: TileGrid, z: int):
    """The quadtree cell function of ``cell_cover``: cover rows of one
    polygon's (M, 4) finite edges, as arrays (cell, inside, n_edges,
    edge_index), the row edges of row i being
    ``e[edge_index[sum(n_edges[:i]):][:n_edges[i]]]``.

    tx/ty are the points' own cell function (``TileGrid.tile_xy``, the
    twin of ``functions.cell_col``), and they are monotone, so:
    - an edge whose endpoint rows miss a point's row never straddles
      its y;
    - an edge whose endpoints lie in columns left of the point's never
      gives inter > 0;
    - a cell inside no edge's endpoint-cell box has, in its row, only
      edges wholly left or wholly right of it, and every vertex in the
      row has both incident edges on the same side, so the crossing
      count's parity is the same for every point of the cell.
    A boundary cell (in some edge's box) therefore keeps its row
    edges that reach its column, and any other bbox cell takes the
    ray-cast answer of its tile centre: inside cells accept, outside
    cells get no row.  The last two facts also need closed rings
    (every vertex an even number of times) and coordinates in the
    _plain range, where no intersection is NaN (which Spark orders
    above 0); when either fails every bbox cell is a boundary cell
    with all its row edges.
    """
    xs, ys = e[:, 0::2], e[:, 1::2]
    tx0, ty1 = grid.tile_xy(z, xs.min(axis=1), ys.min(axis=1))
    tx1, ty0 = grid.tile_xy(z, xs.max(axis=1), ys.max(axis=1))
    a0, b0 = int(tx0.min()), int(ty0.min())
    w, h = int(tx1.max()) - a0 + 1, int(ty1.max()) - b0 + 1

    # boundary = union of the edges' endpoint-cell boxes (2-D prefix sum)
    d = np.zeros((h + 1, w + 1), np.int64)
    for r, c, v in ((ty0, tx0, 1), (ty0, tx1 + 1, -1),
                    (ty1 + 1, tx0, -1), (ty1 + 1, tx1 + 1, 1)):
        np.add.at(d, (r - b0, c - a0), v)
    boundary = d.cumsum(axis=0).cumsum(axis=1)[:h, :w] > 0
    _, counts = np.unique(np.vstack([e[:, :2], e[:, 2:]]), axis=0,
                          return_counts=True)
    plain = (not (counts % 2).any() and _plain(e)
             and _plain([grid.top_left_x, grid.top_left_y])
             and _TINY <= grid.tile_span(z) <= _HUGE)
    if not plain:
        boundary[:] = True

    cols = np.arange(a0, a0 + w)
    out = []
    for r in range(h):
        b = b0 + r
        row = np.flatnonzero((ty0 <= b) & (b <= ty1))
        row = row[np.argsort(-tx1[row], kind="stable")]
        edge_cell = boundary[r].copy()
        free = cols[~edge_cell]
        inside = np.zeros(w, bool)
        if free.size:
            minx, miny, maxx, maxy = grid.tile_bounds(z, free, np.full(free.size, b))
            cx, cy = (minx + maxx) / 2.0, (miny + maxy) / 2.0
            ctx, cty = grid.tile_xy(z, cx, cy)
            ok = ((ctx == free) & (cty == b) & (np.abs(cx) <= _HUGE)
                  & (np.abs(cy) <= _HUGE))
            edge_cell[free[~ok] - a0] = True
            inside[free[ok] - a0] = kpip.ray_cast_odd(e[row], cx[ok], cy[ok])
        keep = np.flatnonzero(edge_cell | inside)
        # a boundary cell at column a keeps the row edges with tx1 >= a:
        # a prefix of the row sorted by tx1 descending
        reach = (np.searchsorted(-tx1[row], -cols[keep], side="right") if plain
                 else np.full(keep.size, row.size))
        reach[inside[keep]] = 0
        start = np.repeat(np.cumsum(reach) - reach, reach)
        out.append((pack_cell(z, cols[keep], b), inside[keep], reach,
                    row[np.arange(reach.sum()) - start]))
    return tuple(np.concatenate(parts) for parts in zip(*out))


def _s2_cells(e: np.ndarray, level: int):
    """The S2 cell function of ``cell_cover``: the level-``level``
    cells covering the vertex envelope of one polygon's (M, 4) finite
    edges (``kernels.s2.cover_bbox_lonlat``), each a boundary cell
    carrying the full ring."""
    cells = ks2.cover_bbox_lonlat(e[:, 0::2].min(), e[:, 1::2].min(),
                                  e[:, 0::2].max(), e[:, 1::2].max(), level)
    k, m = cells.size, len(e)
    return cells, np.zeros(k, bool), np.full(k, m), np.tile(np.arange(m), k)


def _polygon_edges(batch):
    """(fid, (M, 4) edges) of each row of a (fid, edges) edge-table or
    (fid, wkb) polygon Arrow batch."""
    fids = batch.column("fid").to_pylist()
    if "wkb" in batch.schema.names:
        for fid, wkb in zip(fids, batch.column("wkb").to_pylist()):
            yield fid, kpip.ring_edges(kwkb.polygon_rings(wkb))
        return
    lists = batch.column("edges")
    flat = np.column_stack([lists.values.field(f).to_numpy(zero_copy_only=False)
                            for f in _EDGE_FIELDS]).reshape(-1, 4)
    offs = lists.offsets.to_numpy()
    for i, fid in enumerate(fids):
        yield fid, flat[offs[i]:offs[i + 1]]


def cell_cover(layer: DataFrame, cells: Callable[[np.ndarray], tuple]) -> DataFrame:
    """Cell cover of a polygon layer, from its edge table
    (``edges_table`` / ``prepare_edges``) or its (fid, wkb) columns,
    either with an optional ``_attrs`` struct.

    ``cells`` is the cell system: it maps one polygon's (M, 4) edges,
    all finite, to arrays (cell, inside, n_edges, edge_index), the
    edges of row i being ``e[edge_index[sum(n_edges[:i]):][:n_edges[i]]]``
    (``_classify`` for the quadtree, ``_s2_cells`` for S2).  One row
    (cell, fid, xmin, ymin, xmax, ymax, inside, edges[, _attrs]) per
    cell it returns; xmin..ymax is the vertex envelope, and ``_attrs``
    is the polygon row's own struct (``pa.Array.take`` per cover row),
    so the join needs no second lookup of the attributes by fid.  A
    polygon with a NULL fid, no vertex or a non-finite vertex gets no
    rows: its envelope admits no point.  One Arrow map: numpy work per
    polygon, no per-cell Python; on the driver for a layer it holds,
    else on the input's own partitions.  Reading WKB directly, rather
    than a chained ``edges_table``, keeps the polygon side to one
    Arrow stage.
    """
    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            out = {"cell": [np.empty(0, np.int64)], "fid": [np.empty(0, np.int64)],
                   "xmin": [np.empty(0)], "ymin": [np.empty(0)],
                   "xmax": [np.empty(0)], "ymax": [np.empty(0)],
                   "inside": [np.empty(0, bool)], "n": [np.empty(0, np.int64)],
                   "edges": [np.empty((0, 4))], "row": [np.empty(0, np.int64)]}
            for i, (fid, e) in enumerate(_polygon_edges(batch)):
                if fid is None or not len(e) or not np.isfinite(e).all():
                    continue
                cell, inside, n_edges, idx = cells(e)
                out["cell"].append(cell)
                out["fid"].append(np.full(cell.size, fid, np.int64))
                for c, v in (("xmin", e[:, 0::2].min()), ("ymin", e[:, 1::2].min()),
                             ("xmax", e[:, 0::2].max()), ("ymax", e[:, 1::2].max())):
                    out[c].append(np.full(cell.size, v))
                out["inside"].append(inside)
                out["n"].append(n_edges)
                out["edges"].append(e[idx])
                out["row"].append(np.full(cell.size, i, np.int64))
            cols = {c: np.concatenate(v) for c, v in out.items()}
            ecat, n, row = cols.pop("edges"), cols.pop("n"), cols.pop("row")
            arrays = [pa.array(v) for v in cols.values()] + [_edge_lists(ecat, n)]
            names = [*cols, "edges"]
            if _ATTRS in batch.schema.names:
                arrays.append(batch.column(_ATTRS).take(pa.array(row)))
                names.append(_ATTRS)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return arrow_map(layer, gen, _arrow_schema(_COVER_SCHEMA, layer),
                     "spatial_join.cell_cover")


def _exact_tail(cand: DataFrame, points: DataFrame, first_match: bool,
                how: str) -> DataFrame:
    """Phase 2 of every candidate generator.

    cand: the point columns + (cell, fid, xmin, ymin, xmax, ymax,
    inside, edges[, _attrs]) of each candidate (point, polygon) pair.
    Envelope pretest, then inside-accept or the JVM ray-cast over the
    candidate's edge array (no Python workers), then the OGR join
    shape.  The output is (fid, point columns, polygon attributes): the
    attributes are the candidate's own ``_attrs`` fields, so this phase
    joins nothing.  The whole point row is the point's identity —
    null-safe, with multiplicity — so ``first_match`` returns one row
    per input row and ``how='left'`` exactly the input rows without a
    match.  The pretest also drops the non-finite points that the
    clamped cell function puts in a border cell.
    """
    matched = (
        cand.filter(
            (F.col("x") >= F.col("xmin")) & (F.col("x") <= F.col("xmax"))
            & (F.col("y") >= F.col("ymin")) & (F.col("y") <= F.col("ymax"))
            & (F.col("inside")
               | gf.pip_inside_col(F.col("edges"), F.col("x"), F.col("y"))))
        .drop("edges", "inside", "cell", "xmin", "ymin", "xmax", "ymax"))
    rest = [F.col(f"`{c}`") for c in matched.columns if c not in ("fid", _ATTRS)]
    attrs = [f"{_ATTRS}.*"] if _ATTRS in matched.columns else []
    matched = matched.select("fid", *rest, *attrs)

    if first_match:
        w = Window.partitionBy(*points.columns).orderBy(F.col("fid").asc())
        matched = (matched.withColumn("_rk", F.rank().over(w))
                   .filter(F.col("_rk") == 1).drop("_rk"))
    if how == "left":
        unmatched = points.exceptAll(matched.select(*points.columns))
        matched = matched.unionByName(unmatched, allowMissingColumns=True)
    return matched


def _cover_input(polys: DataFrame, edges: DataFrame | None) -> DataFrame:
    """What a join's ``cell_cover`` reads: the layer's (fid, wkb[,
    _attrs]), or a prepared edge table, which carries the attributes
    of the layer it was built from; they must be those of ``polys``."""
    if edges is None:
        return _layer(polys)
    got = ([f.name for f in edges.schema[_ATTRS].dataType.fields]
           if _ATTRS in edges.columns else [])
    if got != _attr_cols(polys):
        raise ValueError(
            f"edges carries attributes {got}, the polygon layer "
            f"{_attr_cols(polys)}: build it with prepare_edges(polys)")
    return edges


def _broadcast_choice(cover: DataFrame, broadcast: bool | None,
                      copies: int) -> bool | None:
    """``broadcast``, or if None, True for a driver-built cover whose
    ``copies`` fit: Catalyst could broadcast the points instead."""
    kind, local = on_driver(cover) if broadcast is None else (None, False)
    inputs = {"requested": broadcast, "cover_plan": kind}
    if local:
        size, limit, fits = broadcast_fit(cover, copies)
        inputs.update(size=size, threshold=limit)
        broadcast = fits or None
    decide("spatial_join.broadcast", {True: "broadcast", False: "shuffle_hash",
                                      None: "catalyst"}[broadcast], **inputs)
    return broadcast


def _cell_join(points: DataFrame, cell: Column, cover: DataFrame,
               broadcast: bool | None, salt: int | str, first_match: bool,
               how: str) -> DataFrame:
    """Phase 1's join step, shared by both cell systems: key ``points``
    on the ``cell`` Column, equi-join them to the polygon ``cover`` on
    cell (see ``spatial_join`` for ``broadcast`` and ``salt``), then
    phase 2 on the candidates."""
    pts = points.withColumn("cell", cell)
    if salt == "auto":
        # hot-cell diagnostic on the POINT side drives the salt factor
        # (north_rule: explicit salting for coastline/metro hot cells)
        from .partitioning import choose_salt

        salt = choose_salt(pts, "cell")
    broadcast = _broadcast_choice(cover, broadcast, max(salt or 1, 1))

    if salt and salt > 1:
        pts = pts.withColumn("_salt", F.pmod(F.xxhash64(F.col("x"), F.col("y")),
                                             F.lit(salt)).cast("int"))
        cover = cover.withColumn("_salt", F.explode(
            F.sequence(F.lit(0), F.lit(salt - 1)))).withColumn(
            "_salt", F.col("_salt").cast("int"))
        join_keys = ["cell", "_salt"]
    else:
        join_keys = ["cell"]

    if broadcast is True:
        right = F.broadcast(cover)
    elif broadcast is False:
        right = cover.hint("shuffle_hash")
    else:
        # Catalyst's size estimate picks broadcast for a small cover;
        # AQE converts sort-merge -> broadcast at runtime otherwise.
        # No driver-side count per call.
        right = cover

    cand = pts.join(right, join_keys, "inner")
    if salt and salt > 1:
        cand = cand.drop("_salt")
    return _exact_tail(cand, points, first_match, how)


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
    broadcast : True = broadcast-hint the polygon cell cover, False =
             force a shuffle join, None = hint a driver-built cover
             that fits the broadcast threshold, else leave the choice
             to Catalyst statistics + AQE runtime re-planning (no
             extra driver action — a count would serialize every call)
    salt   : replicate the polygon cell cover `salt` ways and scatter
             points by a doc hash — explicit hot-cell skew remedy on
             top of AQE (north_rule).  0/1 = unsalted.
    first_match : emit at most one polygon per point (lowest fid) —
             OGR SQL join cardinality (ogr_gensql.cpp:1497-1527).
    edges  : pre-built edge table from ``prepare_edges(polys)`` —
             reuses one WKB decode across repeated joins on the same
             layer; each call classifies its cell cover from it
             (``cell_cover``, on the driver for a driver-built table).
             Its attributes must be those of ``polys`` (ValueError).

    Output: (fid, the point columns, the polygon attributes in layer
    order).  The attributes travel in the cover rows, so a join
    broadcasts (or shuffles) the polygon side once.

    On a streaming ``points`` frame with ``broadcast=True`` this is the
    stream-static join: Structured Streaming runs it statelessly per
    micro-batch (inner only; ``first_match`` and ``how='left'`` need
    batch input).
    """
    cover = cell_cover(_cover_input(polys, edges),
                       partial(_classify, grid=grid, z=zoom))
    return _cell_join(points, gf.cell_col(grid, zoom, F.col("x"), F.col("y")),
                      cover, broadcast, salt, first_match, how)


def spatial_join_s2(points: DataFrame, polys: DataFrame,
                    level: int = 8, how: str = "inner",
                    broadcast: bool | None = None,
                    first_match: bool = False,
                    edges: DataFrame | None = None) -> DataFrame:
    """S2-keyed variant of the two-phase spatial join (the north
    star's "H3/S2 cell" join path; the quadtree ``spatial_join`` is
    the planar twin — results must be identical, asserted by the
    pip_join_s2 oracle and tests).

    Only the cell system differs: each point gets one level-``level``
    S2 key (Arrow pandas UDF, kernels/s2.py), so no (point, fid) pair
    repeats, and each polygon's cover rows are the ``_s2_cells`` of
    its vertex envelope, every one carrying the full ring.  The join
    step (unsalted), phase 2, the output columns and the other
    arguments, ``broadcast=None`` included, are spatial_join's.

    points: DF with lon/lat degree columns named x, y.
    polys:  DF(fid, wkb, xmin/ymin/xmax/ymax) in the same lon/lat CRS.
    """
    cover = cell_cover(_cover_input(polys, edges), partial(_s2_cells, level=level))
    return _cell_join(points, gf.s2_cell_pandas_key(F.col("x"), F.col("y"), level),
                      cover, broadcast, 0, first_match, how)
