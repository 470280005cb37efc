"""A polygon layer held by the driver runs the spatial join's Arrow
stages on the driver (``placement.arrow_map``): the same rows as the
distributed placement, every adaptive choice logged, and no Python
worker pool for a join against a local layer."""

from __future__ import annotations

import datetime
import decimal
import logging
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (BinaryType, DateType, DecimalType, DoubleType,
                               IntegerType, LongType, NullType, StringType,
                               StructField, StructType, TimestampType)

from gdal_spark import placement
from gdal_spark.kernels import wkb as kwkb
from gdal_spark.kernels.cells import TileGrid
from gdal_spark.operators.spatial_join import (prepare_edges, spatial_join,
                                               spatial_join_s2)
from gdal_spark.queries import QUERIES
from worker_pools import daemons_after

_NESTED = StructType([StructField("a", IntegerType()),
                      StructField("inner", StructType([StructField("c", StringType())]))])
_SCHEMA = StructType([
    StructField("fid", LongType()), StructField("wkb", BinaryType()),
    *[StructField(c, DoubleType()) for c in ("xmin", "ymin", "xmax", "ymax")],
    StructField("s", StringType()), StructField("l", LongType()),
    StructField("d", DoubleType()), StructField("dec", DecimalType(10, 2)),
    StructField("dt", DateType()), StructField("ts", TimestampType()),
    StructField("st", _NESTED), StructField("n", NullType())])


def _square(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]


def _polygon(fid, rings, s, l, d, dec, day, st):
    wkb = kwkb.wkb_polygon(rings)
    xmin, ymin, xmax, ymax = kwkb.wkb_bbox(wkb) or (None,) * 4
    return {"fid": fid, "wkb": wkb, "xmin": xmin, "ymin": ymin, "xmax": xmax,
            "ymax": ymax, "s": s, "l": l, "d": d,
            "dec": None if dec is None else decimal.Decimal(dec),
            "dt": None if day is None else datetime.date(2020, 1, day),
            "ts": None if day is None else datetime.datetime(2020, 1, day, 12, 30, 0, 250),
            "st": st, "n": None}


# lon/lat degrees, so the S2 join reads the same layer
_ROWS = [
    _polygon(1, [_square(0, 0, 6, 6), _square(2, 2, 4, 4)], "holed", 1, 1.5,
             "1.25", 1, {"a": 1, "inner": {"c": "x"}}),
    _polygon(2, [[(5, 5), (9, 5), (7, 9), (5, 5)]], "tri", 2, -2.0, "-3.50", 2,
             {"a": None, "inner": None}),
    _polygon(2, [_square(7, 0, 9, 3)], "dup fid", 3, 0.0, "0.00", 3,
             {"a": 3, "inner": {"c": None}}),
    _polygon(None, [_square(1, 7, 3, 9)], "null fid", 4, 4.0, "4.00", 4, None),
    _polygon(5, [[(0, 0), (float("nan"), 1), (1, 1), (0, 0)]], "non-finite",
             5, 5.0, "5.00", 5, None),
    _polygon(6, [_square(3, 3, 8, 4)], None, None, None, None, None, None),
]
_GRID = TileGrid.local(-1.0, -1.0, 10.0, 10.0)


@pytest.fixture(scope="module")
def layers(spark, tmp_path_factory):
    """{name: (points, local layer, distributed layer)} for the fixture
    layer and an empty one; the distributed copy is a parquet read."""
    d = tmp_path_factory.mktemp("placement")
    arrow = to_arrow_schema(_SCHEMA)
    grid = [(i * 0.5 - 0.5, j * 0.5 - 0.5) for i in range(21) for j in range(21)]
    points = spark.createDataFrame(
        [(k, x, y) for k, (x, y) in enumerate(grid)] + [(7, *grid[7])],
        "id long, x double, y double").cache()
    out = {}
    for name, table in (("fixture", pa.Table.from_pylist(_ROWS, schema=arrow)),
                        ("empty", arrow.empty_table())):
        local = spark.createDataFrame(table, _SCHEMA)
        # parquet has no NULL type: the column is re-added on read
        pq.write_table(table.drop_columns(["n"]), d / f"{name}.parquet")
        scanned = spark.read.parquet(str(d / f"{name}.parquet")).select(
            *[F.lit(None).alias("n") if c == "n" else c for c in _SCHEMA.names])
        assert placement.on_driver(local)[1]
        assert not placement.on_driver(scanned)[1]
        out[name] = (points, local, scanned)
    yield out
    points.unpersist()


_SYSTEMS = {
    "quadtree": lambda pts, polys, **kw: spatial_join(pts, polys, _GRID, zoom=6, **kw),
    "salted": lambda pts, polys, **kw: spatial_join(
        pts, polys, _GRID, zoom=6, broadcast=False, salt=4, **kw),
    "s2": lambda pts, polys, **kw: spatial_join_s2(pts, polys, level=8, **kw),
}
_MODES = {"inner": {}, "first_match": {"first_match": True}, "left": {"how": "left"}}


def _join(system, mode, points, polys, prepared):
    edges = prepare_edges(polys) if prepared else None
    try:
        df = _SYSTEMS[system](points, polys, edges=edges, **_MODES[mode])
        return ([(f.name, f.dataType.simpleString()) for f in df.schema],
                sorted(repr(tuple(r)) for r in df.collect()))
    finally:
        if edges is not None:
            edges.unpersist()


def _assert_same(system, mode, points, local, scanned, prepared):
    """Both placements of one layer give the same columns, types and
    rows (with multiplicity)."""
    got = _join(system, mode, points, local, prepared)
    want = _join(system, mode, points, scanned, prepared)
    assert got[0] == want[0]
    assert got[1] == want[1]
    return want


@pytest.mark.parametrize("prepared", [False, True], ids=["wkb", "prepared"])
@pytest.mark.parametrize("mode", list(_MODES))
@pytest.mark.parametrize("system", list(_SYSTEMS))
def test_driver_and_executor_placements_agree(layers, system, mode, prepared):
    columns, rows = _assert_same(system, mode, *layers["fixture"], prepared)
    assert [c for c, _ in columns][-8:] == ["s", "l", "d", "dec", "dt", "ts", "st", "n"]
    assert len(rows) > 50
    assert any("'dup fid'" in r for r in rows) and any("'holed'" in r for r in rows)
    assert not any("null fid" in r or "non-finite" in r for r in rows)


@pytest.mark.parametrize("mode", list(_MODES))
@pytest.mark.parametrize("system", list(_SYSTEMS))
def test_placements_agree_on_an_empty_layer(layers, system, mode):
    points = layers["empty"][0]
    _, rows = _assert_same(system, mode, *layers["empty"], False)
    assert len(rows) == (points.count() if mode == "left" else 0)


@pytest.mark.parametrize("damage", [
    lambda attrs: attrs.dropFields("dec"),
    lambda attrs: attrs.withField("l", attrs["l"].cast("int")),
], ids=["drop", "retype"])
def test_parity_check_sees_a_damaged_driver_placement(layers, monkeypatch, damage):
    import gdal_spark.operators.spatial_join as sj

    def damaged(layer, *args):
        out = placement.arrow_map(layer, *args)
        if not placement.on_driver(layer)[1]:
            return out
        return out.withColumn("_attrs", damage(F.col("_attrs")))

    monkeypatch.setattr(sj, "arrow_map", damaged)
    with pytest.raises(AssertionError):
        _assert_same("quadtree", "inner", *layers["fixture"], False)


def _documents(tmp_path):
    pq.write_table(pa.table({"doc_id": list(range(2000))}),
                   tmp_path / "documents.parquet")
    return str(tmp_path)


def test_pip_join_logs_its_placement_choices(spark, tmp_path, caplog):
    sf = _documents(tmp_path)
    with caplog.at_level(logging.INFO, logger="gdal_spark.decisions"):
        QUERIES["pip_join"].fn(spark, sf)
    events = [(r.decision, r.chosen, r.inputs) for r in caplog.records
              if hasattr(r, "decision")]
    assert [e[:2] for e in events] == [("spatial_join.cell_cover", "driver"),
                                       ("spatial_join.broadcast", "broadcast")]
    assert events[0][2] == {"plan": "LocalRelation", "rows": 10}
    hint = events[1][2]
    assert hint["requested"] is None and hint["cover_plan"] == "LocalRelation"
    assert 0 < hint["size"] <= hint["threshold"]


def test_a_scanned_layer_logs_executor_placement(spark, layers, caplog):
    points, _, scanned = layers["fixture"]
    with caplog.at_level(logging.INFO, logger="gdal_spark.decisions"):
        edges = prepare_edges(scanned)
        spatial_join(points, scanned, _GRID, zoom=6, edges=edges)
        edges.unpersist()
    events = [(r.decision, r.chosen, r.inputs["plan" if "plan" in r.inputs
                                               else "cover_plan"])
              for r in caplog.records if hasattr(r, "decision")]
    assert [e[:2] for e in events] == [("spatial_join.edges_table", "executors"),
                                       ("spatial_join.cell_cover", "executors"),
                                       ("spatial_join.broadcast", "catalyst")]
    assert "LocalRelation" not in {e[2] for e in events}


_NO_POOL = textwrap.dedent('''
    import json, sys
    import pyarrow as pa, pyarrow.parquet as pq
    from gdal_spark.kernels.cells import TileGrid
    from gdal_spark.operators.spatial_join import prepare_edges, spatial_join
    from gdal_spark.queries import QUERIES
    from gdal_spark.session import get_spark
    from gdal_spark.sources import fixtures as fx
    from worker_pools import python_daemons

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    sf = sys.argv[1]
    pq.write_table(pa.table({"doc_id": list(range(2000))}),
                   f"{sf}/documents.parquet")
    spark = get_spark(app_name="no-pool", cores=2, shuffle_partitions=2)
    for name in ("pip_join", "dialect_spatial_join"):
        sink(QUERIES[name].fn(spark, sf))
    polys = spark.createDataFrame(fx.polygons_pandas())
    edges = prepare_edges(polys)
    pts = spark.range(500).selectExpr(
        "id", "478315.5 + id * 6.0 AS x", "4762880.5 + id * 5.0 AS y")
    got = spatial_join(pts, polys, TileGrid.local(*fx.POLY_BBOX), zoom=6,
                       edges=edges).count()
    assert got > 0, got
    edges.unpersist()
    print("DAEMONS", json.dumps(python_daemons(spark)))
    spark.range(8).mapInArrow(lambda it: it, "id long").collect()
    print("DAEMONS", json.dumps(python_daemons(spark)))
    spark.stop()
''')


def test_joins_against_a_local_layer_start_no_python_worker(tmp_path):
    """pip_join, dialect_spatial_join and a prepared-edges join in a
    fresh session leave no worker daemon under the JVM; the Arrow map
    run after them starts one, so the walk does see a pool."""
    joins, arrow = daemons_after(_NO_POOL, str(tmp_path))
    assert joins == []
    assert len(arrow) == 1, arrow
