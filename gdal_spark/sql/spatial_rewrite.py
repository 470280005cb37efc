"""Auto-rewrite of ST_Intersects joins into the two-phase cell join.

The reference evaluates a spatial predicate in SQL by brute force:
``swq`` has no spatial join operator, so OGR layers filtered with
ST_Intersects run the per-feature spatial filter loop
(/root/reference/ogr/ogrsf_frmts/generic/ogrlayer.cpp:3345
SetSpatialFilter + feature iteration).  On Spark the literal
translation is worse — Catalyst plans

    JOIN b ON st_intersects(a.g, b.g)

as a CartesianProduct / BroadcastNestedLoopJoin with a per-pair
Python UDF: O(|A|x|B|) work that dies at 10^12 rows.

This module intercepts that statement shape in the dialect's grammar
path (SURVEY §4.3 post-v1 rule) and re-plans it as the engine's
flagship salted two-phase cell join (operators/spatial_join.py):
coarse cell equi-join + envelope pretest in pure Catalyst, exact
ray-cast (ogrlinearring.cpp:462-532) as a JVM edge fold.  Dialect
users get the scale plan without calling ``spatial_join`` explicitly.

Rewrite contract (checked structurally; any miss falls back to the
plain Spark plan, which stays correct):

* top-level ``SELECT ... FROM A [a] [LEFT|INNER] JOIN B [b]
  ON ST_Intersects(<q1>.<c1>, <q2>.<c2>) [WHERE ...]`` with exactly
  one join and both ST_Intersects arguments qualified by the two
  FROM names;
* one side is a POINT layer carrying double columns ``x, y`` (the
  engine's point contract, operators/spatial_join.py:133) and the
  other a polygon layer carrying ``fid, wkb, xmin, ymin, xmax,
  ymax``;
* the join grid is derived from the polygon layer's extent
  (``_extent``, the OGRLayer::GetExtent role,
  ogr/ogrsf_frmts/generic/ogrlayer.cpp:1037 in the reference) at
  ``DIALECT_ZOOM``, with explicit ``DIALECT_SALT``-way hot-cell
  salting (north_rule skew remedy; the polygon cell index is the
  small side, so replication is cheap);
* boundary semantics are the two-phase filter's (bbox pretest +
  even-odd ray cast), identical to the reference's
  ogrlayer.cpp:2253-2325 path that its own ExecuteSQL spatial
  filtering uses — NOT GEOS ST_Intersects closure semantics;
* on collision, primary-side (point) columns win: colliding
  polygon attribute columns are dropped before the attr re-attach,
  mirroring OGR's primary-table precedence in joined field lists
  (ogr_gensql.cpp field-map setup).

The residual statement (select list, WHERE, GROUP BY, ORDER BY ...)
re-runs over the joined view with the two table qualifiers stripped,
so filters on point columns are plain Column predicates that Catalyst
pushes through the join into the parquet scan.
"""

from __future__ import annotations

import math
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernels.cells import TileGrid
from ..placement import decide, on_driver
from .lexer import significant, tokenize
from .parser import (_NAME_KINDS, FromItem, SelectStmt, _emit_name,
                     _splice, emit)

# Coarse join zoom: a polygon bbox covers O(10-100) cells (same
# trade as queries/spatial.py Z_JOIN).  Salt 4: explicit replication
# of the (small) polygon cell index so one coastline/metro hot cell
# fans over 4 tasks even before AQE skew handling kicks in.
DIALECT_ZOOM = 6
DIALECT_SALT = 4

_POLY_CONTRACT = ("fid", "wkb", "xmin", "ymin", "xmax", "ymax")
_VIEW = "__ogr_spatial_join"


def _match_st_intersects(on_text: str):
    """Capture ``ST_Intersects(q1.c1, q2.c2)`` exactly (both args
    qualified); None for anything else."""
    toks = significant(tokenize(on_text))
    shape = ("ident", "(", "ident", ".", "ident", ",",
             "ident", ".", "ident", ")")
    if len(toks) != len(shape):
        return None
    for t, want in zip(toks, shape):
        if want in ("(", ")", ".", ","):
            if not (t.kind == "op" and t.text == want):
                return None
        elif t.kind not in _NAME_KINDS:
            return None
    if toks[0].text.upper() != "ST_INTERSECTS":
        return None
    return (toks[2].name, toks[4].name), (toks[6].name, toks[8].name)


def _qualified_refs(expr: str, aliases: set[str]):
    """Yield ``(start, end, alias, col)`` for every ``alias.col``
    reference to one of the joined-away aliases, token-wise (literals
    and quoted runs stay atomic); a qualified name followed by ``(``
    is a function call, not a reference."""
    toks = significant(tokenize(expr))
    i = 0
    while i + 2 < len(toks):
        if (toks[i].kind in _NAME_KINDS
                and toks[i].name.lower() in aliases
                and toks[i + 1].kind == "op" and toks[i + 1].text == "."
                and toks[i + 2].kind in _NAME_KINDS
                and not (i + 3 < len(toks) and toks[i + 3].kind == "op"
                         and toks[i + 3].text == "(")):
            yield (toks[i].start, toks[i + 2].end, toks[i].name.lower(),
                   toks[i + 2].name)
            i += 3
        else:
            i += 1


def _strip_qualifiers(expr: str, aliases: set[str]) -> str:
    """Rewrite ``a.col`` -> ``col`` for the two joined-away aliases."""
    return _splice(expr, [(start, end, _emit_name(col))
                          for start, end, _, col
                          in _qualified_refs(expr, aliases)])


def _qualified_cols(expr: str, aliases: set[str]) -> set[tuple[str, str]]:
    """(alias, column) pairs referenced as ``alias.col``."""
    return {(alias, col.lower())
            for _, _, alias, col in _qualified_refs(expr, aliases)}


def _sql_order(v):
    """Spark's order of doubles: NaN above every other value."""
    return (math.isnan(v), v)


def _extent(polys: DataFrame):
    """(xmin, ymin, xmax, ymax) of a polygon layer: min of the mins,
    max of the maxes, by SQL's rules (NULLs ignored, NaN above every
    number; all NULL or no rows -> NULL).

    A layer whose bbox projection is held by the driver (a small
    ``createDataFrame``) is collected there, which runs no Spark job;
    any other layer takes one 4-scalar aggregate."""
    bbox = polys.select("xmin", "ymin", "xmax", "ymax")
    kind, local = on_driver(bbox)
    rows = bbox.collect() if local else None
    decide("spatial_rewrite.extent", "driver" if local else "aggregate",
           plan=kind, rows=len(rows) if local else None)
    if not local:
        return tuple(bbox.agg(F.min("xmin"), F.min("ymin"),
                              F.max("xmax"), F.max("ymax")).collect()[0])
    cols = [[v for v in c if v is not None] for c in zip(*rows)] or [[]] * 4
    return tuple(pick(c, key=_sql_order) if c else None
                 for pick, c in zip((min, min, max, max), cols))


def try_spatial_join_rewrite(spark: SparkSession,
                             stmt: SelectStmt) -> DataFrame | None:
    """Re-plan a one-join ST_Intersects SELECT as the two-phase cell
    join; None when the statement doesn't fit the contract (caller
    falls back to the plain Spark plan)."""
    from ..operators.spatial_join import spatial_join

    if (stmt.union_next is not None or stmt.from_item is None
            or stmt.from_item.table is None or len(stmt.joins) != 1):
        return None
    join = stmt.joins[0]
    if join.item.table is None:
        return None
    caught = _match_st_intersects(join.on_text)
    if caught is None:
        return None

    a_ref = (stmt.from_item.ref_name or "").lower()
    b_ref = (join.item.ref_name or "").lower()
    quals = {caught[0][0].lower(), caught[1][0].lower()}
    if quals != {a_ref, b_ref} or a_ref == b_ref:
        return None

    try:
        df_a = spark.table(stmt.from_item.table)
        df_b = spark.table(join.item.table)
    except Exception:
        return None

    # both ST_Intersects arguments must name real columns on their
    # side — a typo should fail analysis like the plain plan would,
    # not silently join on the contract columns
    for qual, col in caught:
        cols = df_a.columns if qual.lower() == a_ref else df_b.columns
        if col.lower() not in {c.lower() for c in cols}:
            return None

    # column checks are case-insensitive, like Spark's own resolution
    # (register_layer spells fid as FID on registered views)
    def is_points(df: DataFrame) -> bool:
        return {"x", "y"} <= {c.lower() for c in df.columns}

    def is_polys(df: DataFrame) -> bool:
        return set(_POLY_CONTRACT) <= {c.lower() for c in df.columns}

    if is_points(df_a) and is_polys(df_b):
        points, polys = df_a, df_b
    elif is_points(df_b) and is_polys(df_a):
        if join.left:
            # LEFT JOIN keeps the PRIMARY side; primary = polygons is
            # a polygon-per-point expansion the cell join can't spell
            return None
        points, polys = df_b, df_a
    else:
        return None

    # collision handling (case-insensitive, like Spark's resolution):
    # primary-side (point) columns win except the operator's own keys —
    # OGR_* special fields collide by construction on register_layer'd
    # views, so this is the common path, not an edge case
    refs = set()
    for kind, val in stmt.fields:
        if kind == "raw":
            refs |= _qualified_cols(val, quals)
    for clause in (stmt.where, stmt.group_by, stmt.having, stmt.order_by):
        if clause:
            refs |= _qualified_cols(clause, quals)

    points_ref = a_ref if points is df_a else b_ref
    pts_lower = {c.lower() for c in points.columns}
    contract = set(_POLY_CONTRACT)
    if pts_lower & {"xmin", "ymin", "xmax", "ymax", "cell"}:
        return None      # would collide with the operator's internals
    if "fid" in pts_lower:
        # the output fid is the POLYGON key; a residual p.fid would
        # silently re-bind to it — refuse rather than mis-resolve
        if (points_ref, "fid") in refs:
            return None
        points = points.drop(*[c for c in points.columns
                               if c.lower() == "fid"])
        pts_lower.discard("fid")
    drop = [c for c in polys.columns
            if c.lower() in pts_lower and c.lower() not in contract]
    polys = polys.drop(*drop) if drop else polys

    # residual expressions may only reference columns that survive
    # the join — validated PER SIDE, so e.g. a polygon-side g.wkb
    # (consumed by the operator) or a dropped collision column can't
    # silently re-bind to the point side's same-named column
    polys_out = ({c.lower() for c in polys.columns}
                 - {"wkb", "xmin", "ymin", "xmax", "ymax"})
    for q, c in refs:
        if c not in (pts_lower if q == points_ref else polys_out):
            return None

    # GetExtent role: the polygon side's extent sizes the grid
    # (polygons bound the join's match region)
    ext = _extent(polys)
    if ext[0] is None:
        return None
    pad = max((ext[2] - ext[0]), (ext[3] - ext[1]), 1e-9) * 1e-9
    grid = TileGrid.local(ext[0] - pad, ext[1] - pad,
                          ext[2] + pad, ext[3] + pad)

    joined = spatial_join(points, polys, grid, zoom=DIALECT_ZOOM,
                          how="left" if join.left else "inner",
                          salt=DIALECT_SALT)
    joined.createOrReplaceTempView(_VIEW)

    aliases = quals
    fields = []
    for kind, val in stmt.fields:
        fields.append(("raw", _strip_qualifiers(val, aliases))
                      if kind == "raw" else (kind, val))
    residual = replace(
        stmt,
        fields=fields,
        from_item=FromItem(table=_VIEW),
        joins=[],
        where=_strip_qualifiers(stmt.where, aliases) if stmt.where else None,
        group_by=(_strip_qualifiers(stmt.group_by, aliases)
                  if stmt.group_by else None),
        having=(_strip_qualifiers(stmt.having, aliases)
                if stmt.having else None),
        order_by=(_strip_qualifiers(stmt.order_by, aliases)
                  if stmt.order_by else None),
    )
    return spark.sql(emit(residual, spark))
