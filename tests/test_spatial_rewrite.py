"""ST_Intersects auto-rewrite (sql/spatial_rewrite.py): a dialect
JOIN ... ON ST_Intersects(a.g, b.g) must produce the salted two-phase
cell-join plan, match the brute-force Catalyst plan row-for-row, and
fall back cleanly when the statement misses the contract."""

from __future__ import annotations

import pandas as pd
import pytest

from gdal_spark.kernels import wkb as kwkb
from gdal_spark.sources import fixtures as fx
from gdal_spark.sql import ogr_sql, register_layer
from gdal_spark.sql.parser import parse
from gdal_spark.sql.spatial_rewrite import try_spatial_join_rewrite


def _points_pdf(n: int = 400) -> pd.DataFrame:
    minx, miny, maxx, maxy = fx.POLY_BBOX
    w, h = maxx - minx, maxy - miny
    rows = []
    for i in range(n):
        # deterministic scatter, ~10% outside the polygon bbox
        fx_, fy = ((i * 2654435761) % 1000) / 999.0, ((i * 40503) % 1000) / 999.0
        x = minx - 0.05 * w + fx_ * 1.1 * w
        y = miny - 0.05 * h + fy * 1.1 * h
        rows.append({"doc_id": i, "x": x, "y": y,
                     "wkb": kwkb.wkb_point(x, y)})
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def layers(spark):
    from gdal_spark.functions.st import register_st_functions

    register_st_functions(spark)
    register_layer(spark, "pts", spark.createDataFrame(_points_pdf()),
                   fid_col="doc_id")
    register_layer(spark, "polyl", spark.createDataFrame(fx.polygons_pandas()))
    return spark


_Q = ("SELECT p.doc_id, p.x, g.fid, g.eas_id FROM pts p "
      "JOIN polyl g ON ST_Intersects(p.wkb, g.wkb) "
      "ORDER BY p.doc_id, g.fid")


def test_rewrite_matches_brute_force(layers):
    fast = [(r["doc_id"], r["fid"], r["eas_id"])
            for r in ogr_sql(layers, _Q).collect()]
    brute = [(r["doc_id"], r["fid"], r["eas_id"]) for r in layers.sql(
        "SELECT p.doc_id, g.fid, g.eas_id FROM pts p JOIN polyl g "
        "ON st_intersects(p.wkb, g.wkb) ORDER BY p.doc_id, g.fid"
    ).collect()]
    assert len(fast) > 20          # non-trivial match set
    assert fast == brute


def test_plan_is_salted_two_phase(layers):
    df = ogr_sql(layers, _Q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "st_intersects" not in plan.lower()   # no per-pair UDF
    assert "cell" in plan                        # coarse equi-join key
    assert "_salt" in plan                       # explicit skew salting


def test_left_join_keeps_unmatched(layers):
    out = ogr_sql(layers,
                  "SELECT p.doc_id, g.fid FROM pts p LEFT JOIN polyl g "
                  "ON ST_Intersects(p.wkb, g.wkb)")
    rows = out.collect()
    matched_ids = {r["doc_id"] for r in rows if r["fid"] is not None}
    all_ids = {r["doc_id"] for r in rows}
    assert len(all_ids) == 400                   # every point survives
    assert matched_ids < all_ids                 # bbox misses stay null


def test_residual_clauses_apply(layers):
    out = ogr_sql(layers,
                  "SELECT g.eas_id, COUNT(*) AS n FROM pts p "
                  "JOIN polyl g ON ST_Intersects(p.wkb, g.wkb) "
                  "WHERE p.x > 480000 GROUP BY g.eas_id "
                  "HAVING COUNT(*) > 0 ORDER BY g.eas_id").collect()
    brute = layers.sql(
        "SELECT g.eas_id AS eas_id, COUNT(*) AS n FROM pts p "
        "JOIN polyl g ON st_intersects(p.wkb, g.wkb) "
        "WHERE p.x > 480000 GROUP BY g.eas_id "
        "HAVING COUNT(*) > 0 ORDER BY g.eas_id").collect()
    assert [(r["eas_id"], r["n"]) for r in out] \
        == [(r["eas_id"], r["n"]) for r in brute]


def test_non_contract_statement_falls_back(layers):
    # equality join -> no spatial rewrite (try_ returns None), still runs
    stmt = parse("SELECT p.doc_id FROM pts p JOIN polyl g "
                 "ON p.doc_id = g.fid")
    assert try_spatial_join_rewrite(layers, stmt) is None
    # unqualified ST_Intersects arg -> no rewrite either
    stmt2 = parse("SELECT p.doc_id FROM pts p JOIN polyl g "
                  "ON ST_Intersects(wkb, g.wkb)")
    assert try_spatial_join_rewrite(layers, stmt2) is None
    # referencing a consumed polygon column (g.wkb in SELECT) -> fallback
    stmt3 = parse("SELECT p.doc_id, g.wkb FROM pts p JOIN polyl g "
                  "ON ST_Intersects(p.wkb, g.wkb)")
    assert try_spatial_join_rewrite(layers, stmt3) is None


_NAN = float("nan")


@pytest.mark.parametrize("values, expected", [
    ([(0.0, -1.0, 2.0, 3.0), (None, -5.0, None, 1.0), (-4.0, None, 9.5, None)],
     (-4.0, -5.0, 9.5, 3.0)),
    ([(1.0, _NAN, _NAN, 2.0), (0.5, 3.0, 4.0, 1.0)], (0.5, 3.0, _NAN, 2.0)),
    ([(None, None, None, None)], (None,) * 4),
    ([], (None,) * 4),
], ids=["nulls", "nan", "all_null", "empty"])
def test_local_extent_equals_the_aggregate(spark, tmp_path, values, expected):
    """The driver-side extent of a local layer follows SQL's rules
    (NULLs skipped, NaN above every number) like the aggregate that any
    other layer takes; reading it runs no job."""
    import math

    import pyarrow as pa

    from gdal_spark.sql.spatial_rewrite import _extent

    cols = ("xmin", "ymin", "xmax", "ymax")
    local = spark.createDataFrame(pa.table(
        {c: pa.array([r[i] for r in values], pa.float64())
         for i, c in enumerate(cols)}))
    assert local._jdf.queryExecution().optimizedPlan().getClass() \
        .getSimpleName() == "LocalRelation"
    local.write.parquet(str(tmp_path / "bbox.parquet"))
    scanned = spark.read.parquet(str(tmp_path / "bbox.parquet"))

    sc = spark.sparkContext
    group = f"local-extent-{tmp_path.name}"
    sc.setJobGroup(group, "extent")
    try:
        got = _extent(local)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    def key(ext):
        return [None if v is None else "nan" if math.isnan(v) else v
                for v in ext]

    assert key(got) == key(_extent(scanned)) == key(expected)
