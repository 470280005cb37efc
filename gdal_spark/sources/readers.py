"""Ingest readers: CSV-with-WKT and GeoJSON -> the engine's layer
model (fid bigint, attrs..., wkb binary, xmin/ymin/xmax/ymax double).

The reference reads ~70 vector formats through drivers
(/root/reference/ogr/ogrsf_frmts/); the engine treats non-columnar
formats as ingest-time conversions (SURVEY §2.1), normalizing
everything to WKB + bbox companion columns, then parquet.

Each reader is a Spark file scan (text, multi-line JSON or CSV) that
runs in the JVM: ``from_json`` parses GeoJSON, and the GeoJSON bbox is
taken from its positions there too.  The only Python is one Arrow UDF
per reader that builds the WKB (for WKT also its bbox), and column
pruning drops it from any query that reads no column it makes, so
reading never starts a second Python worker pool beside the Arrow one.
Building a reader's DataFrame submits no Spark job.

FIDs are explicit and deterministic, never a raw
monotonically_increasing_id (SURVEY §1.2).  The GeoJSONSeq and CSV
rule: the input files in path order, and within a file its features
(rows) in byte order, numbered 0..n-1; blank lines (and, for
GeoJSONSeq, RFC 8142 RS ``0x1e`` markers) take no number.  The number
comes from the scan itself when the query runs, not from a job run
while the DataFrame is built.  A FeatureCollection's FID is the
feature's position in its file's ``features`` array.
"""

from __future__ import annotations

import csv
import json

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..kernels import wkb as kwkb

_BBOX = ("xmin", "ymin", "xmax", "ymax")
_FAILFAST = {"mode": "FAILFAST"}
_GEOMETRY = "struct<type: string, coordinates: string>"
# The positions of a feature ``_f``'s geometry, as from_json reads them
# for its type.  SQL text: one JVM round trip to build.
_COORDS = "from_json(_f.geometry.coordinates, '{}', map('mode', 'FAILFAST'))"
_POSITIONS = (
    "CASE WHEN _f.geometry IS NULL THEN NULL WHEN lower(_f.geometry.type) = "
    f"'point' THEN array({_COORDS.format('array<double>')}) "
    "WHEN lower(_f.geometry.type) = 'linestring' THEN "
    f"{_COORDS.format('array<array<double>>')} "
    "WHEN lower(_f.geometry.type) = 'polygon' THEN "
    f"flatten({_COORDS.format('array<array<array<double>>>')}) "
    "ELSE raise_error('unsupported GeoJSON geometry ' || _f.geometry.type) END")
_SPLIT = ("_fid_file", "_fid_start")


def _single_split(scan: DataFrame) -> bool:
    """Whether Spark reads ``scan`` as one file in one split.  Asks the
    scan's own RDD for its partitions, which plans the scan but runs no
    job, rather than re-deriving Spark's split rule."""
    return (len(scan.inputFiles()) == 1
            and scan._jdf.rdd().getNumPartitions() == 1)


def _numbered(scan: DataFrame, keep: Column | None = None) -> DataFrame:
    """``fid`` + the columns of a file scan, keeping the rows ``keep``
    passes, numbered by the FID rule of the module docstring.

    Every split of every file is read whole by one task, so the rows
    of a split get consecutive ``monotonically_increasing_id`` values
    in byte order.  When the scan is one file read by one split, those
    values are the FIDs: one stage, no job while building.  Otherwise
    one small aggregate gives each split its first id and row count; a
    prefix sum over the splits in (path, offset) order turns that into
    the number of the split's first row.  The scan thus runs twice, in
    parallel, and only one row per split is broadcast: no task sees
    every feature."""
    # ids are taken after the filter: a dropped row takes no id
    kept = scan if keep is None else scan.where(keep)
    if _single_split(scan):
        return kept.selectExpr("monotonically_increasing_id() AS fid", "*")
    rows = kept.selectExpr(
        "*", "_metadata.file_path AS _fid_file",
        "_metadata.file_block_start AS _fid_start",
        "monotonically_increasing_id() AS _fid_row")
    base = rows.groupBy(*_SPLIT).agg(
        F.expr("min(_fid_row) AS _first"), F.expr("count(1) AS _n")
    ).selectExpr(*_SPLIT, "sum(_n) OVER (ORDER BY _fid_file, _fid_start "
                 "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                 " - _n - _first AS _fid_base")
    return rows.join(F.broadcast(base), list(_SPLIT)).selectExpr(
        "_fid_base + _fid_row AS fid", "*").drop(
        *_SPLIT, "_fid_row", "_fid_base")


def _positions(c, ndim: int) -> np.ndarray:
    """GeoJSON positions nested ``ndim`` deep (1: one position) as a
    float64 array whose last axis holds 2 or 3 ordinates; ``[]`` of
    positions is an EMPTY (0, 2) array."""
    if ndim > 1 and c == []:
        return np.empty((0, 2))
    a = np.asarray(c, dtype=np.float64)
    if a.ndim != ndim or a.shape[-1] not in (2, 3):
        raise ValueError(f"GeoJSON positions of shape {a.shape}, "
                         f"expected {ndim}-D with 2 or 3 ordinates")
    return a


def _geojson_to_wkb(gtype: str, coordinates: str) -> bytes:
    """A GeoJSON geometry's ``type`` and ``coordinates`` text -> WKB
    (Point/LineString/Polygon; 3-D positions give Z WKB; empty
    coordinates give the EMPTY geometry, as ``wkt_to_wkb`` does)."""
    t = gtype.lower()
    c = json.loads(coordinates)
    if t == "point":
        if c == []:
            return kwkb.wkt_to_wkb("POINT EMPTY")
        return kwkb.wkb_point(*map(float, _positions(c, 1)))
    if t == "linestring":
        a = _positions(c, 2)
        return kwkb.wkb_linestring(a, z=a.shape[-1] == 3)
    if t == "polygon":
        rings = [_positions(r, 2) for r in c]
        if len({r.shape[-1] for r in rings}) > 1:
            raise ValueError("GeoJSON polygon rings differ in dimension")
        return kwkb.wkb_polygon(rings, z=bool(rings) and rings[0].shape[-1] == 3)
    raise ValueError(f"unsupported GeoJSON geometry {gtype}")


def _geojson_layer(df: DataFrame) -> DataFrame:
    """(fid, _f struct<geometry struct<type, coordinates>, properties>)
    -> layer DataFrame (fid, props, wkb, bbox).

    ``props`` is the properties object as compact JSON text (``{}``
    when absent).  The bbox is min/max over the positions that
    ``from_json`` parses for the geometry's type; WKB comes from one
    Arrow UDF.  A NULL geometry gives NULL wkb and bbox, an EMPTY one
    (no positions) EMPTY wkb and a NULL bbox."""
    @F.pandas_udf("binary")
    def wkb(types: pd.Series, coords: pd.Series) -> pd.Series:
        return pd.Series([None if t is None else _geojson_to_wkb(t, c)
                          for t, c in zip(types, coords)], dtype=object)

    return df.selectExpr(
        "CAST(fid AS BIGINT) AS fid", "coalesce(_f.properties, '{}') AS props",
        "_f.geometry AS _geom", f"{_POSITIONS} AS _pos",
    ).select(
        "fid", "props", wkb("_geom.type", "_geom.coordinates").alias("wkb"),
        *(F.expr(f"array_{f}(transform(_pos, p -> get(p, {i}))) AS {c}{f}")
          for f in ("min", "max") for i, c in enumerate("xy")))


def _csv_schema(spark: SparkSession, path: str, opts: dict) -> StructType | None:
    """The all-string schema the CSV scan would infer from the header:
    the first non-blank line of the first file in path order, read on
    the driver so that building the DataFrame submits no job (Spark's
    own header inference runs one).  None when ``opts`` asks for type
    inference, which Spark then runs, or when there is no header."""
    o = {k.lower(): str(v) for k, v in opts.items()}
    if o.get("inferschema", "false").lower() == "true":
        return None
    files = sorted(spark.read.options(**opts).text(path).inputFiles())
    if not files:
        return None
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(files[0])
    raw, text = p.getFileSystem(conf).open(p), None
    try:
        codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
            conf).getCodec(p)
        text = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(
            raw if codec is None else codec.createInputStream(raw),
            o.get("encoding", o.get("charset", "UTF-8"))))
        comment = o.get("comment")
        line = text.readLine()
        while line is not None and (
                not line.strip() or (comment and line.startswith(comment))):
            line = text.readLine()
    finally:
        (raw if text is None else text).close()
    if line is None:
        return None
    sep = o.get("sep", o.get("delimiter", ","))
    line = line.lstrip("\ufeff")
    row = line.split(sep) if len(sep) > 1 else next(csv.reader(
        [line], delimiter=sep, quotechar=o.get("quote", '"') or None,
        escapechar=o.get("escape", "\\")))
    # Spark's safe header: blank -> _c<i>, case-insensitive dup -> name<i>
    low = [v.lower() for v in row]
    return StructType([StructField(
        f"_c{i}" if not v else f"{v}{i}" if low.count(v.lower()) > 1 else v,
        StringType()) for i, v in enumerate(row)])


def read_wkt_csv(spark: SparkSession, path: str, wkt_col: str = "wkt",
                 **csv_opts) -> DataFrame:
    """CSV with a header row and a WKT geometry column -> layer
    DataFrame.

    The columns are strings named by the header, which is read on the
    driver; ``inferSchema="true"`` in ``csv_opts`` types them by
    Spark's inference instead, which runs jobs.  FID = 0-based data-row
    order by the module's FID rule: files in path order, rows in byte
    order (the CSV driver's row-order FIDs); ``mode="DROPMALFORMED"``
    is refused.  One Arrow UDF turns the WKT into WKB and its bbox.
    """
    opts = {**csv_opts, "header": "true"}
    if any(k.lower() == "mode" and str(v).upper() == "DROPMALFORMED"
           for k, v in opts.items()):
        # the rows it drops depend on the columns a scan parses, and the
        # numbering scans twice with different columns
        raise ValueError("read_wkt_csv cannot number rows in DROPMALFORMED mode")
    reader = spark.read.options(**opts)
    schema = _csv_schema(spark, path, opts)
    if schema is not None:
        reader = reader.schema(schema)
    rows = _numbered(reader.csv(path))

    @F.pandas_udf("wkb binary, xmin double, ymin double, xmax double, "
                  "ymax double")
    def wkt_layer(ws: pd.Series) -> pd.DataFrame:
        out = []
        for w in ws:
            b = kwkb.wkt_to_wkb(w) if w else None
            bbox = b is not None and kwkb.wkb_bbox(b)
            out.append((b, *(bbox or (None,) * 4)))
        return pd.DataFrame(out, columns=["wkb", *_BBOX])

    g = wkt_layer(F.col(wkt_col))
    attrs = [F.col(f"`{c}`") for c in rows.columns if c not in ("fid", wkt_col)]
    return rows.select(*attrs, "fid", *[g[c].alias(c) for c in ("wkb", *_BBOX)])


def read_geojson(spark: SparkSession, path: str) -> DataFrame:
    """GeoJSON FeatureCollection file(s) -> layer DataFrame
    (fid, props, wkb, bbox).

    Each file is one multi-line JSON record; FID is the feature's
    position in its file's ``features`` array.  ``props`` is the
    feature's properties object as JSON text; geometry becomes WKB
    (Point/LineString/Polygon subset).
    """
    fc = (spark.read.schema(
        f"features array<struct<geometry: {_GEOMETRY}, properties: string>>")
        .options(multiLine="true", **_FAILFAST).json(path))
    return _geojson_layer(fc.selectExpr("posexplode(features) AS (fid, _f)"))


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
    -> layer DataFrame (fid, props, wkb, bbox).

    Unlike a FeatureCollection document, the sequence format is
    NATIVELY SPLITTABLE: one feature per line means text-scan line
    splits are feature boundaries, so a 100 TB .geojsonl corpus scans
    with ordinary parallelism (the whole reason OGR pushes GeoJSONSeq
    for streaming pipelines).  FIDs follow the module's rule: files in
    path order, features in byte order within a file (the OGR driver's
    sequential FID rule); blank lines take no FID, and leading RS
    (0x1e) markers per RFC 8142 are stripped.  ``n_partitions``, when
    given, spreads the numbered features over that many partitions.
    """
    blank = F.col("value").rlike("^[\\x1e\\s]*$")
    lines = _numbered(spark.read.text(path), ~blank)
    layer = _geojson_layer(lines.select("fid", F.from_json(
        F.regexp_replace("value", "^\\x1e+", ""),
        f"geometry {_GEOMETRY}, properties string", _FAILFAST).alias("_f")))
    return layer.repartition(n_partitions) if n_partitions else layer


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
