"""OGR SQL dialect shim: run OGR-dialect statements on Spark SQL.

Catalyst already speaks a superset of the OGR SQL grammar
(/root/reference/doc/source/user/ogr_sql_dialect.rst;
parser /root/reference/ogr/swq_select.cpp, grammar
/root/reference/ogr/swq_parser.y:821).  What needs translation are
the dialect's quirks:

* ``* EXCLUDE (f1, f2)``       — swq PushExcludeField
  (/root/reference/ogr/ogr_swq.h:453): rewritten to an explicit
  column list from the layer schema;
* special fields               — ``FID`` and ``OGR_GEOM_AREA``
  (/root/reference/ogr/ogr_p.h:167-174): attached as real columns at
  layer registration (area = shoelace |outer| - |holes|,
  kernels.geom.polygon_area ≡ OGRPolygon::get_Area);
* one-to-FIRST-match LEFT JOIN — OGR joins take the first matching
  secondary feature (/root/reference/ogr/ogrsf_frmts/generic/
  ogr_gensql.cpp:1497-1527): the secondary table is wrapped in a
  row_number()=1 subquery partitioned by the join key, ordered by
  FID;
* summary mode                 — aggregates without GROUP BY
  (ogr_gensql.cpp:849) collapse to one row: Spark semantics already
  match;
* ``HSTORE_GET_VALUE(h, k)``   — swq_op_general.cpp:291: rewritten
  to ``str_to_map(...)[k]``.

* double-quoted identifiers    — the OGR dialect quotes identifiers
  with ``"`` (swq_scanner.l treats double-quoted runs as column
  references); Spark SQL reads ``"..."`` as a string literal, so
  every quoted identifier is re-spelled with backticks.

Everything else (WHERE trees, LIKE/ILIKE, CAST, DISTINCT, ORDER BY,
LIMIT/OFFSET, UNION ALL) passes through to Spark SQL untouched.

Statements are tokenized (`lexer.tokenize`, the swq_scanner.l role)
and parsed by the grammar in `sql/parser.py`; its one tree walk
(`parser.emit`) is the only code that applies these rewrites, so
string literals, quoted identifiers, and comments are atomic: a
literal containing ``LEFT JOIN`` or ``* EXCLUDE (...)`` text can never
trigger a rewrite.  A statement the grammar rejects (e.g. ``WITH``)
is Spark SQL, not OGR dialect: it runs with only the expression-level
re-spellings (double-quoted identifiers, HSTORE_GET_VALUE).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .ddl import try_execute_ddl
from .parser import ParseError, emit, parse, respell
from .spatial_rewrite import try_spatial_join_rewrite


_GEOM_TYPE_NAMES = {
    1: "POINT", 2: "LINESTRING", 3: "POLYGON",
    4: "MULTIPOINT", 5: "MULTILINESTRING", 6: "MULTIPOLYGON",
    7: "GEOMETRYCOLLECTION",
}


def register_layer(spark: SparkSession, name: str, df: DataFrame,
                   fid_col: str = "fid", wkb_col: str | None = "wkb",
                   style_col: str | None = "ogr_style") -> None:
    """Expose a DataFrame as an OGR layer with the dialect's special
    fields (ogr/ogr_p.h:167-174): FID, OGR_GEOMETRY (type name, read
    JVM-side from the WKB header byte), OGR_GEOM_WKT, OGR_GEOM_AREA,
    OGR_STYLE.  OGR_STYLE mirrors OGRFeature::GetStyleString
    (ogr/ogrfeature.cpp:6985-7024): the per-feature style string when
    the layer carries one (``style_col``, e.g. ``PEN(c:#FF0000,w:2px)``
    strings ingested from a styled source), NULL otherwise — OGR
    likewise returns NULL for unstyled features.  Then registers a
    temp view."""
    out = df
    if fid_col in df.columns and "FID" not in df.columns:
        out = out.withColumn("FID", F.col(fid_col))
    if wkb_col and wkb_col in df.columns:

        @F.pandas_udf("double")
        def _area(wkbs: pd.Series) -> pd.Series:
            # batched decode (kernels/batch_measures.py): uniform
            # layouts take the zero-per-row matrix path — this column
            # is materialized for EVERY row of every registered layer
            from ..kernels import batch_measures as kbm

            return pd.Series(kbm.batch_area(wkbs), index=wkbs.index)

        @F.pandas_udf("string")
        def _wkt(wkbs: pd.Series) -> pd.Series:
            from ..functions.st import _st_astext

            return _st_astext(wkbs)

        # geometry type id = byte 2 of little-endian WKB (< 256 for
        # the 2-D set) — a pure Column read, no Python
        gtype = F.conv(
            F.hex(F.substring(F.col(wkb_col), 2, 1)), 16, 10).cast("int")
        gname = None
        for tid, tname in _GEOM_TYPE_NAMES.items():
            gname = (F.when(gtype == tid, F.lit(tname)) if gname is None
                     else gname.when(gtype == tid, F.lit(tname)))
        out = (
            out.withColumn("OGR_GEOMETRY", gname)
            .withColumn("OGR_GEOM_AREA", _area(F.col(wkb_col)))
            .withColumn("OGR_GEOM_WKT", _wkt(F.col(wkb_col)))
        )
    if style_col and style_col in df.columns:
        out = out.withColumn("OGR_STYLE", F.col(style_col).cast("string"))
    else:
        out = out.withColumn("OGR_STYLE", F.lit(None).cast("string"))
    out.createOrReplaceTempView(name)


def style_tool_param_col(style, tool: str, param: str):
    """Extract one tool parameter from an OGR feature-style string —
    the OGRStyleTool::GetParamStr read path (ogr/ogr_featurestyle.cpp,
    OGRStyleMgr part split + param lookup) as pure Column regexps, so
    a styled layer can be filtered/projected on e.g. its PEN color
    JVM-side with no Python in the plan.

    ``style_tool_param_col(F.col("OGR_STYLE"), "PEN", "c")`` over
    ``PEN(c:#FF0000,w:2px);BRUSH(fc:#0000FF)`` -> ``#FF0000``; NULL
    when the tool or param is absent (OGR returns a not-found flag).
    Tools: PEN/BRUSH/SYMBOL/LABEL (ogr_featurestyle.h:77-82)."""
    style = F.col(style) if isinstance(style, str) else style
    part = F.regexp_extract(style, re.escape(tool) + r"\(([^)]*)\)", 1)
    val = F.regexp_extract(part, r"(?:^|,)" + re.escape(param)
                           + r":([^,]*)", 1)
    return F.nullif(val, F.lit(""))


def ogr_sql(spark: SparkSession, sql: str) -> DataFrame | None:
    """Execute an OGR-SQL-dialect statement against registered layers.

    DDL commands (ALTER TABLE ADD/DROP/RENAME/ALTER COLUMN, DROP
    TABLE, CREATE/DROP INDEX — the reference intercepts these before
    its SELECT parser, gcore/gdaldataset.cpp:6255-6818) are handled by
    sql/ddl.py and return None, matching ExecuteSQL's NULL layer for
    statements without a result set.

    SELECTs go through the recursive-descent grammar
    (sql/parser.py — the swq_parser.y select_statement, extended with
    sub-SELECT in FROM) and one tree walk applies every dialect
    rewrite in correct scope.  Statements the grammar does not cover
    run as Spark SQL with only `parser.respell` applied (no EXCLUDE
    expansion, no first-match joins)."""
    if try_execute_ddl(spark, sql):
        return None
    try:
        tree = parse(sql)
    except ParseError:
        return spark.sql(respell(sql))
    # SURVEY §4.3 auto-rewrite: a JOIN ... ON ST_Intersects(a.g, b.g)
    # statement re-plans as the salted two-phase cell join instead of
    # Catalyst's CartesianProduct + per-pair UDF (spatial_rewrite.py)
    rewritten = try_spatial_join_rewrite(spark, tree)
    if rewritten is not None:
        return rewritten
    return spark.sql(emit(tree, spark))

