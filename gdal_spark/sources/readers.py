"""Ingest readers: CSV-with-WKT and GeoJSON -> the engine's layer
model (fid bigint, attrs..., wkb binary, xmin/ymin/xmax/ymax double).

The reference reads ~70 vector formats through drivers
(/root/reference/ogr/ogrsf_frmts/); the engine treats non-columnar
formats as ingest-time conversions (SURVEY §2.1), normalizing
everything to WKB + bbox companion columns, then parquet.  FIDs are
explicit and deterministic (line/feature order), never
monotonically_increasing_id (SURVEY §1.2).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernels import wkb as kwkb


def _with_bbox(df: DataFrame) -> DataFrame:
    """Append the xmin/ymin/xmax/ymax companions of the ``wkb`` column
    (header-only scan, NULL for a NULL geometry)."""
    @F.pandas_udf("xmin double, ymin double, xmax double, ymax double")
    def bbox(bs: pd.Series) -> pd.DataFrame:
        vals = [kwkb.wkb_bbox(bytes(b)) if b is not None else
                (None, None, None, None) for b in bs]
        return pd.DataFrame(vals, columns=["xmin", "ymin", "xmax", "ymax"])

    return df.withColumn("_bb", bbox(F.col("wkb"))).select(
        "*", "_bb.xmin", "_bb.ymin", "_bb.xmax", "_bb.ymax").drop("_bb")


def _geojson_layer(df: DataFrame) -> DataFrame:
    """(fid, geom_json, props) -> layer DataFrame: GeoJSON geometry
    objects (Point/LineString/Polygon subset) become WKB + bbox."""
    @F.pandas_udf("binary")
    def gj_wkb(gs: pd.Series) -> pd.Series:
        def one(g):
            if not g:
                return None
            o = json.loads(g)
            t = o.get("type", "").lower()
            c = o.get("coordinates")
            if t == "point":
                return kwkb.wkb_point(float(c[0]), float(c[1]))
            if t == "linestring":
                return kwkb.wkb_linestring(np.array(c, dtype=np.float64))
            if t == "polygon":
                return kwkb.wkb_polygon(
                    [np.array(r, dtype=np.float64) for r in c])
            raise ValueError(f"unsupported GeoJSON geometry {t}")
        return gs.map(one)

    return _with_bbox(
        df.withColumn("wkb", gj_wkb("geom_json")).drop("geom_json"))


def read_wkt_csv(spark: SparkSession, path: str, wkt_col: str = "wkt",
                 **csv_opts) -> DataFrame:
    """CSV with a WKT geometry column -> layer DataFrame.

    FID = 0-based input row order (deterministic: zipWithIndex over
    the raw lines in file order, matching the CSV driver's row-order
    FIDs).
    """
    raw = spark.read.option("header", "true").options(**csv_opts).csv(path)
    # deterministic fid: order of rows within the csv read
    rdd = raw.rdd.zipWithIndex().map(lambda t: (*t[0], t[1]))
    with_fid = spark.createDataFrame(rdd, raw.columns + ["fid"])
    with_fid = with_fid.withColumn("fid", F.col("fid").cast("long"))

    @F.pandas_udf("binary")
    def to_wkb(ws: pd.Series) -> pd.Series:
        return ws.map(lambda w: kwkb.wkt_to_wkb(w) if w else None)

    return _with_bbox(
        with_fid.withColumn("wkb", to_wkb(F.col(wkt_col))).drop(wkt_col))


def read_geojson(spark: SparkSession, path: str) -> DataFrame:
    """GeoJSON FeatureCollection file(s) -> layer DataFrame.

    Schema is inferred from the union of feature properties (the
    scan-and-guess behavior of the OGR GeoJSON driver); geometry is
    converted to WKB (Point/LineString/Polygon subset).
    """
    text = spark.sparkContext.wholeTextFiles(path).values()

    def feats(doc: str):
        fc = json.loads(doc)
        for i, f in enumerate(fc.get("features", [])):
            geom = f.get("geometry") or {}
            props = f.get("properties") or {}
            yield (i, json.dumps(geom), json.dumps(props))

    rows = text.flatMap(feats)
    return _geojson_layer(spark.createDataFrame(
        rows, "fid long, geom_json string, props string"))


def wkb_to_geojson_geom(wkb: bytes | None) -> str | None:
    """WKB -> GeoJSON geometry object (RFC 7946 subset mirroring the
    reader; MultiPoint/MultiLineString/MultiPolygon included)."""
    if wkb is None:
        return None
    gtype, payload = kwkb.parse_wkb(bytes(wkb))

    def ring(r):
        return [[float(x), float(y)] for x, y in np.asarray(r)]

    if gtype == kwkb.POINT:
        o = {"type": "Point", "coordinates": [float(payload[0]),
                                              float(payload[1])]}
    elif gtype == kwkb.LINESTRING:
        o = {"type": "LineString", "coordinates": ring(payload)}
    elif gtype == kwkb.POLYGON:
        o = {"type": "Polygon", "coordinates": [ring(r) for r in payload]}
    elif gtype == kwkb.MULTIPOINT:
        o = {"type": "MultiPoint",
             "coordinates": [[float(x), float(y)] for x, y in payload]}
    elif gtype == kwkb.MULTILINESTRING:
        o = {"type": "MultiLineString",
             "coordinates": [ring(p) for p in payload]}
    elif gtype == kwkb.MULTIPOLYGON:
        o = {"type": "MultiPolygon",
             "coordinates": [[ring(r) for r in poly] for poly in payload]}
    else:
        raise ValueError(f"unsupported geometry type {gtype}")
    return json.dumps(o)


def write_geojson(df: DataFrame, out_dir: str,
                  prop_cols: list[str] | None = None) -> None:
    """Distributed GeoJSON sink: one FeatureCollection file per
    partition (part-file layout, same contract as write_shapefile).
    df needs (wkb [, property columns])."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    cols = prop_cols if prop_cols is not None else [
        c for c in df.columns
        if c not in ("wkb", "xmin", "ymin", "xmax", "ymax")]

    def _write_part(pid: int, rows):
        feats = []
        for r in rows:
            feats.append({
                "type": "Feature",
                "geometry": (None if r["wkb"] is None else
                             json.loads(wkb_to_geojson_geom(r["wkb"]))),
                "properties": {c: r[c] for c in cols},
            })
        path = os.path.join(out_dir, f"part-{pid:05d}.geojson")
        with open(path, "w") as f:
            json.dump({"type": "FeatureCollection", "features": feats}, f)
        yield pid, len(feats)

    df.rdd.mapPartitionsWithIndex(
        lambda pid, it: _write_part(pid, it)).collect()


# ---------------------------------------------------------------- GeoJSONSeq
def read_geojson_seq(spark: SparkSession, path: str,
                     n_partitions: int | None = None) -> DataFrame:
    """Newline-delimited GeoJSON (RFC 8142 / OGR GeoJSONSeq driver)
    -> layer DataFrame.

    Unlike a FeatureCollection document, the sequence format is
    NATIVELY SPLITTABLE: one feature per line means spark.read.text
    line splits are feature boundaries, so a 100 TB .geojsonl corpus
    scans with ordinary parallelism (the whole reason OGR pushes
    GeoJSONSeq for streaming pipelines).  FIDs are assigned in file /
    byte order (zipWithIndex — deterministic, matching the OGR
    driver's sequential FID rule).  Leading RS (0x1e) markers per RFC
    8142 are tolerated and stripped.
    """
    text = spark.sparkContext.textFile(path, n_partitions or 2)
    lines = (text.map(lambda s: s.lstrip("\x1e").strip())
             .filter(lambda s: bool(s))
             .zipWithIndex()
             .map(lambda t: (t[1],) + _feature_fields(t[0])))
    return _geojson_layer(spark.createDataFrame(
        lines, "fid long, geom_json string, props string"))


def _feature_fields(line: str) -> tuple:
    f = json.loads(line)
    geom = f.get("geometry") or {}
    props = f.get("properties") or {}
    return (json.dumps(geom), json.dumps(props))


def write_geojson_seq(df: DataFrame, out_dir: str,
                      props_cols: list[str] | None = None) -> int:
    """Per-partition part-file GeoJSONSeq sink (one feature per line,
    '\\n'-delimited — the OGR GeoJSONSeq writer contract).  Returns
    the number of part files written."""
    import os as _os

    _os.makedirs(out_dir, exist_ok=True)
    cols = props_cols or [c for c in df.columns if c != "wkb"]

    def _write_part(pid: int, rows):
        feats = []
        for r in rows:
            geom = (json.loads(wkb_to_geojson_geom(bytes(r["wkb"])))
                    if r["wkb"] is not None else None)
            feats.append(json.dumps({
                "type": "Feature",
                "geometry": geom,
                "properties": {c: r[c] for c in cols},
            }, sort_keys=True))
        if feats:
            path = _os.path.join(out_dir, f"part-{pid:05d}.geojsonl")
            with open(path, "w") as fh:
                fh.write("\n".join(feats) + "\n")
            yield 1

    n = df.select(*cols, "wkb").rdd.mapPartitionsWithIndex(
        lambda pid, it: _write_part(pid, it)).sum()
    return int(n)
