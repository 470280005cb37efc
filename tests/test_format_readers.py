"""Shapefile + GeoPackage readers: fixtures are hand-crafted binaries
per the public specs (ESRI Shapefile Technical Description; OGC
12-128r14), so the reader is checked against the format, not against
its own writer."""

from __future__ import annotations

import json
import sqlite3
import struct

import numpy as np
import pandas as pd
import pytest

from gdal_spark.kernels import wkb as kwkb


def _shp_pair(shapes: list[bytes], shape_type: int):
    """Build (.shp bytes, .shx bytes) from raw shape contents."""
    recs = []
    off_words = 50                       # 100-byte header
    shx_entries = []
    for i, content in enumerate(shapes):
        recs.append(struct.pack(">ii", i + 1, len(content) // 2) + content)
        shx_entries.append(struct.pack(">ii", off_words, len(content) // 2))
        off_words += 4 + len(content) // 2
    body = b"".join(recs)

    def header(total_words):
        return (struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
                + struct.pack(">i", total_words)
                + struct.pack("<ii", 1000, shape_type)
                + struct.pack("<8d", 0, 0, 100, 100, 0, 0, 0, 0))

    shp = header(50 + len(body) // 2) + body
    shx = header(50 + 4 * len(shapes)) + b"".join(shx_entries)
    return shp, shx


def _dbf(fields, rows):
    fds = b""
    rec_size = 1
    for name, ftype, flen, fdec in fields:
        fds += (name.encode().ljust(11, b"\x00") + ftype.encode()
                + b"\x00" * 4 + bytes([flen, fdec]) + b"\x00" * 14)
        rec_size += flen
    hdr_size = 32 + len(fds) + 1
    out = (bytes([0x03, 99, 1, 1]) + struct.pack("<IHH", len(rows),
                                                 hdr_size, rec_size)
           + b"\x00" * 20 + fds + b"\x0d")
    for row in rows:
        rec = b" "
        for (name, ftype, flen, fdec), val in zip(fields, row):
            rec += str(val).encode().ljust(flen)[:flen]
        out += rec
    return out + b"\x1a"


def _polygon_content(rings):
    pts = np.vstack(rings)
    parts, acc = [], 0
    for r in rings:
        parts.append(acc)
        acc += len(r)
    return (struct.pack("<i", 5)
            + struct.pack("<4d", pts[:, 0].min(), pts[:, 1].min(),
                          pts[:, 0].max(), pts[:, 1].max())
            + struct.pack("<ii", len(rings), len(pts))
            + np.array(parts, dtype="<i4").tobytes()
            + pts.astype("<f8").tobytes())


def test_read_shapefile_polygons(spark, tmp_path):
    from gdal_spark.sources.shapefile import read_shapefile

    outer = np.array([[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]],
                     dtype=float)          # CW in shapefile convention
    hole = outer[::-1] * 0.2 + 4           # CCW -> hole
    cw2 = np.array([[20, 20], [20, 25], [25, 25], [25, 20], [20, 20]],
                   dtype=float)
    shapes = [
        _polygon_content([outer, hole]),           # polygon with hole
        _polygon_content([outer, cw2]),            # two CW -> multipolygon
        struct.pack("<i", 0),                      # null shape
    ]
    shp, shx = _shp_pair(shapes, 5)
    base = tmp_path / "layer"
    (base.with_suffix(".shp")).write_bytes(shp)
    (base.with_suffix(".shx")).write_bytes(shx)
    (base.with_suffix(".dbf")).write_bytes(_dbf(
        [("NAME", "C", 10, 0), ("VAL", "N", 8, 0), ("RATE", "N", 8, 3)],
        [("alpha", 7, "1.500"), ("beta", -3, "0.250"), ("gap", 0, "0.000")]))

    df = read_shapefile(spark, str(base.with_suffix(".shp")), n_partitions=2)
    rows = {r["fid"]: r for r in df.collect()}
    assert len(rows) == 3
    g0 = kwkb.parse_wkb(bytes(rows[0]["wkb"]))
    assert g0[0] == kwkb.POLYGON and len(g0[1]) == 2
    g1 = kwkb.parse_wkb(bytes(rows[1]["wkb"]))
    assert g1[0] == kwkb.MULTIPOLYGON and len(g1[1]) == 2
    assert rows[2]["wkb"] is None
    assert rows[0]["NAME"] == "alpha" and rows[0]["VAL"] == 7
    assert rows[1]["VAL"] == -3 and abs(rows[1]["RATE"] - 0.25) < 1e-9
    assert (rows[0]["xmin"], rows[0]["ymax"]) == (0.0, 10.0)


def test_read_shapefile_points(spark, tmp_path):
    from gdal_spark.sources.shapefile import read_shapefile

    shapes = [struct.pack("<i2d", 1, 3.5, -2.25),
              struct.pack("<i2d", 1, 40.0, 50.0)]
    shp, shx = _shp_pair(shapes, 1)
    base = tmp_path / "pts"
    base.with_suffix(".shp").write_bytes(shp)
    base.with_suffix(".shx").write_bytes(shx)
    base.with_suffix(".dbf").write_bytes(_dbf(
        [("ID", "N", 4, 0)], [(1,), (2,)]))
    df = read_shapefile(spark, str(base.with_suffix(".shp")))
    rows = sorted(df.collect(), key=lambda r: r["fid"])
    assert kwkb.parse_wkb(bytes(rows[0]["wkb"]))[1] == (3.5, -2.25)
    assert rows[1]["ID"] == 2


def _make_gpkg(path, feats):
    con = sqlite3.connect(path)
    con.executescript("""
        CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT,
            identifier TEXT, srs_id INTEGER);
        CREATE TABLE gpkg_geometry_columns (table_name TEXT,
            column_name TEXT, geometry_type_name TEXT, srs_id INTEGER,
            z TINYINT, m TINYINT);
        CREATE TABLE roads (fid INTEGER PRIMARY KEY, geom BLOB,
            name TEXT, lanes INTEGER, toll REAL);
        INSERT INTO gpkg_contents VALUES ('roads', 'features', 'roads', 0);
        INSERT INTO gpkg_geometry_columns VALUES
            ('roads', 'geom', 'GEOMETRY', 0, 0, 0);
    """)
    for fid, wkb, bbox, name, lanes, toll in feats:
        if wkb is None:
            blob = None
        else:
            flags = 0x01 | (1 << 1)          # little-endian, envelope xy
            blob = (b"GP" + bytes([0, flags]) + struct.pack("<i", 0)
                    + struct.pack("<4d", bbox[0], bbox[2], bbox[1], bbox[3])
                    + wkb)
        con.execute("INSERT INTO roads VALUES (?,?,?,?,?)",
                    (fid, blob, name, lanes, toll))
    con.commit()
    con.close()


def test_read_geopackage(spark, tmp_path):
    from gdal_spark.sources.geopackage import (list_feature_tables,
                                               read_geopackage)

    p = str(tmp_path / "db.gpkg")
    line = kwkb.wkb_linestring(np.array([[0.0, 0.0], [5.0, 5.0]]))
    pt = kwkb.wkb_point(9.0, -1.0)
    _make_gpkg(p, [
        (1, line, (0.0, 0.0, 5.0, 5.0), "a", 2, 0.5),
        (2, pt, (9.0, -1.0, 9.0, -1.0), "b", 4, 1.25),
        (3, None, None, "c", 1, 0.0),
    ])
    assert list_feature_tables(p) == ["roads"]
    df = read_geopackage(spark, p, n_partitions=2)
    rows = {r["fid"]: r for r in df.collect()}
    assert len(rows) == 3
    assert kwkb.parse_wkb(bytes(rows[2]["wkb"]))[1] == (9.0, -1.0)
    assert rows[1]["xmin"] == 0.0 and rows[1]["ymax"] == 5.0
    assert rows[3]["wkb"] is None and rows[3]["name"] == "c"
    assert rows[2]["lanes"] == 4 and abs(rows[2]["toll"] - 1.25) < 1e-9


def test_shapefile_roundtrip_write_read(spark, tmp_path):
    """Writer -> reader roundtrip (the reader is validated against
    hand-crafted spec bytes above, so it anchors the writer)."""
    import glob

    from gdal_spark.sources.shapefile import read_shapefile, write_shapefile

    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
                     dtype=float)          # CCW input: writer flips to CW
    hole = np.array([[4, 4], [4, 6], [6, 6], [6, 4], [4, 4]], dtype=float)
    rows = [
        {"fid": 0, "wkb": kwkb.wkb_point(1.5, -2.5)},
        {"fid": 1, "wkb": kwkb.wkb_linestring(
            np.array([[0.0, 0.0], [3.0, 4.0], [6.0, 0.0]]))},
        {"fid": 2, "wkb": kwkb.wkb_polygon([outer, hole])},
        {"fid": 3, "wkb": None},
    ]
    out_dirs = {}
    for i, row in enumerate(rows):
        # one geometry type per file (spec): write each alone
        df = spark.createDataFrame(pd.DataFrame([row]))
        d = str(tmp_path / f"out{i}")
        write_shapefile(df.repartition(1), d)
        out_dirs[i] = d
    for i, row in enumerate(rows):
        shp = glob.glob(out_dirs[i] + "/part-*.shp")[0]
        got = read_shapefile(spark, shp, n_partitions=1).collect()
        assert len(got) == 1
        if row["wkb"] is None:
            assert got[0]["wkb"] is None
            continue
        want_t, want_p = kwkb.parse_wkb(row["wkb"])
        got_t, got_p = kwkb.parse_wkb(bytes(got[0]["wkb"]))
        assert got_t == want_t
        if want_t == kwkb.POINT:
            assert got_p == want_p
        elif want_t == kwkb.LINESTRING:
            np.testing.assert_array_equal(np.asarray(got_p),
                                          np.asarray(want_p))
        else:                               # polygon: ring sets match
            # outer re-oriented CW by the writer; compare as point sets
            for wr, gr in zip(want_p, got_p):
                assert {tuple(p) for p in np.asarray(wr)} == \
                    {tuple(p) for p in np.asarray(gr)}
        assert got[0]["FID"] == row["fid"]


def test_geojson_roundtrip_write_read(spark, tmp_path):
    import glob

    from gdal_spark.sources.readers import read_geojson, write_geojson

    rows = [
        {"fid": 0, "name": "pt",
         "wkb": kwkb.wkb_point(2.5, 3.5)},
        {"fid": 1, "name": "ln",
         "wkb": kwkb.wkb_linestring(np.array([[0.0, 0.0], [7.0, 8.0]]))},
        {"fid": 2, "name": "pg",
         "wkb": kwkb.wkb_polygon([np.array(
             [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 0.0]])])},
    ]
    d = str(tmp_path / "gj")
    write_geojson(
        spark.createDataFrame(pd.DataFrame(rows)).repartition(1), d)
    part = glob.glob(d + "/part-*.geojson")[0]
    back = sorted(read_geojson(spark, part).collect(),
                  key=lambda r: r["fid"])
    assert len(back) == 3
    for want, got in zip(rows, back):
        wt, wp = kwkb.parse_wkb(want["wkb"])
        gt, gp = kwkb.parse_wkb(bytes(got["wkb"]))
        assert wt == gt
        assert json.loads(got["props"])["name"] == want["name"]
    assert kwkb.parse_wkb(bytes(back[0]["wkb"]))[1] == (2.5, 3.5)


def test_shapefile_through_ogr_dialect(spark, tmp_path):
    """Integration: a shapefile layer registered for the OGR SQL
    dialect — special fields + WHERE over dbf attributes."""
    from gdal_spark.sources.shapefile import read_shapefile
    from gdal_spark.sql.ogr_dialect import ogr_sql, register_layer

    outer = np.array([[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]],
                     dtype=float)
    cw2 = np.array([[20, 20], [20, 24], [25, 24], [25, 20], [20, 20]],
                   dtype=float)
    shapes = [_polygon_content([outer]), _polygon_content([cw2])]
    shp, shx = _shp_pair(shapes, 5)
    base = tmp_path / "zones"
    base.with_suffix(".shp").write_bytes(shp)
    base.with_suffix(".shx").write_bytes(shx)
    base.with_suffix(".dbf").write_bytes(_dbf(
        [("NAME", "C", 10, 0), ("POP", "N", 8, 0)],
        [("big", 100), ("small", 7)]))

    layer = read_shapefile(spark, str(base.with_suffix(".shp")))
    register_layer(spark, "zones", layer)
    out = ogr_sql(spark, "SELECT FID, NAME, OGR_GEOMETRY, OGR_GEOM_AREA "
                         "FROM zones WHERE POP > 50").collect()
    assert len(out) == 1
    assert out[0]["NAME"] == "big"
    assert out[0]["OGR_GEOMETRY"] == "POLYGON"
    assert abs(out[0]["OGR_GEOM_AREA"] - 100.0) < 1e-9


def test_geopackage_roundtrip_write_read(spark, tmp_path):
    """write_geopackage -> read_geopackage roundtrip, exact WKB bytes
    and attributes (the reader is anchored against hand-crafted spec
    bytes in test_read_geopackage, so it validates the writer)."""
    import glob
    import sqlite3

    from gdal_spark.sources.geopackage import (read_geopackage,
                                               write_geopackage)

    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
                     dtype=float)
    rows = [
        {"fid": 1, "wkb": kwkb.wkb_point(1.5, -2.5),
         "name": "a", "score": 0.25, "n": 7},
        {"fid": 2, "wkb": kwkb.wkb_linestring(
            np.array([[0.0, 0.0], [3.0, 4.0], [6.0, 0.0]])),
         "name": "b", "score": -1.5, "n": 8},
        {"fid": 3, "wkb": kwkb.wkb_polygon([outer]),
         "name": None, "score": None, "n": None},
        {"fid": 4, "wkb": None, "name": "d", "score": 0.0, "n": 9},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    d = str(tmp_path / "gpkg_out")
    write_geopackage(df.repartition(2, "fid"), d, table="layer1")

    parts = sorted(glob.glob(d + "/part-*.gpkg"))
    assert len(parts) == 2
    # each part is a spec-complete GeoPackage
    for p in parts:
        con = sqlite3.connect(p)
        try:
            app_id = con.execute("PRAGMA application_id").fetchone()[0]
            assert app_id == 1196444487        # 'GPKG'
            srs = dict(con.execute(
                "SELECT srs_id, organization FROM gpkg_spatial_ref_sys"))
            assert {4326, -1, 0} <= set(srs)
            gc = con.execute(
                "SELECT table_name, column_name, srs_id "
                "FROM gpkg_geometry_columns").fetchall()
            assert gc == [("layer1", "geom", 4326)]
        finally:
            con.close()

    got = {}
    for p in parts:
        for r in read_geopackage(spark, p, n_partitions=1).collect():
            got[r["fid"]] = r
    assert set(got) == {1, 2, 3, 4}
    for row in rows:
        g = got[row["fid"]]
        if row["wkb"] is None:
            assert g["wkb"] is None
        else:
            assert bytes(g["wkb"]) == bytes(row["wkb"])   # exact bytes
            bb = kwkb.wkb_bbox(bytes(row["wkb"]))
            assert (g["xmin"], g["ymin"], g["xmax"], g["ymax"]) == bb
        assert g["name"] == row["name"]
        assert g["n"] == row["n"]
        if row["score"] is None:
            assert g["score"] is None
        else:
            assert g["score"] == row["score"]


def test_geopackage_layer_envelope_in_contents(tmp_path, spark):
    import glob
    import sqlite3

    from gdal_spark.sources.geopackage import write_geopackage

    rows = [{"fid": i, "wkb": kwkb.wkb_point(float(i), float(-i))}
            for i in range(1, 6)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    d = str(tmp_path / "gpkg_env")
    write_geopackage(df.repartition(1), d)
    p = glob.glob(d + "/part-*.gpkg")[0]
    con = sqlite3.connect(p)
    try:
        minx, miny, maxx, maxy = con.execute(
            "SELECT min_x, min_y, max_x, max_y FROM gpkg_contents").fetchone()
        assert (minx, miny, maxx, maxy) == (1.0, -5.0, 5.0, -1.0)
    finally:
        con.close()


def test_geojson_seq_roundtrip(spark, tmp_path):
    import json

    from pyspark.sql import functions as F

    from gdal_spark.sources.readers import (read_geojson_seq,
                                            write_geojson_seq)

    src = tmp_path / "in.geojsonl"
    with open(src, "w") as fh:
        for i in range(25):
            fh.write(json.dumps({
                "type": "Feature",
                "geometry": {"type": "Point",
                             "coordinates": [float(i), float(2 * i)]},
                "properties": {"tag": f"t{i}", "k": i % 4},
            }) + "\n")
    df = read_geojson_seq(spark, str(src), n_partitions=4)
    assert df.count() == 25
    # sequential FID rule: fid i carries point (i, 2i)
    bad = df.filter((F.col("xmin") != F.col("fid").cast("double")) |
                    (F.col("ymin") != (F.col("fid") * 2).cast("double"))
                    ).count()
    assert bad == 0

    out = tmp_path / "out"
    n_parts = write_geojson_seq(df.repartition(3), str(out),
                                props_cols=["fid", "props"])
    assert n_parts >= 1
    back = read_geojson_seq(spark, str(out) + "/*.geojsonl")
    assert back.count() == 25
    orig_pts = {(r["xmin"], r["ymin"]) for r in df.collect()}
    back_pts = {(r["xmin"], r["ymin"]) for r in back.collect()}
    assert orig_pts == back_pts


def test_geojson_seq_rs_markers_and_blanks(spark, tmp_path):
    import json

    from gdal_spark.sources.readers import read_geojson_seq

    src = tmp_path / "rs.geojsonl"
    with open(src, "w") as fh:
        fh.write("\x1e" + json.dumps({
            "type": "Feature",
            "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
            "properties": {}}) + "\n\n")
        fh.write("\x1e" + json.dumps({
            "type": "Feature",
            "geometry": {"type": "Point", "coordinates": [3.0, 4.0]},
            "properties": {}}) + "\n")
    df = read_geojson_seq(spark, str(src))
    rows = df.orderBy("fid").collect()
    assert [(r["xmin"], r["ymin"]) for r in rows] == [(1.0, 2.0), (3.0, 4.0)]


# ---- hostile input: ValueError only, allocation bounded -------------------
def _holed_square_wkb():
    outer = np.array([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)], float)
    hole = np.array([(2, 2), (2, 3), (3, 3), (2, 2)], float)
    return kwkb.wkb_polygon([outer, hole])


def test_gpkg_blob_hostile_input_raises_value_error_with_bounded_allocation(
        hostile_contract):
    from gdal_spark.sources.geopackage import gpkg_blob_to_wkb, wkb_to_gpkg_blob

    hostile_contract(gpkg_blob_to_wkb, wkb_to_gpkg_blob(_holed_square_wkb()),
                     seed=7, head=48, slack=16 * 1024)


def test_shape_record_hostile_input_raises_value_error_with_bounded_allocation(
        hostile_contract):
    from gdal_spark.sources.shapefile import _shape_to_wkb, _wkb_to_shape

    _stype, content = _wkb_to_shape(_holed_square_wkb())
    hostile_contract(_shape_to_wkb, content, seed=7, head=48, slack=16 * 1024)


def test_shape_record_counts_are_checked_before_use():
    from gdal_spark.sources.shapefile import _shape_to_wkb, _wkb_to_shape

    _stype, content = _wkb_to_shape(_holed_square_wkb())
    for n_parts, n_pts in ((-1, 9), (2, -4), (2, 1 << 30), (1 << 29, 9)):
        bad = content[:36] + struct.pack("<2i", n_parts, n_pts) + content[44:]
        with pytest.raises(ValueError):
            _shape_to_wkb(bad)
    backwards = content[:44] + struct.pack("<2i", 5, 0) + content[52:]
    with pytest.raises(ValueError, match="part offsets"):
        _shape_to_wkb(backwards)
    with pytest.raises(ValueError, match="shape type"):
        _shape_to_wkb(struct.pack("<i", 31) + content[4:])
