"""Format-reader catalog queries: a deterministic shapefile and
geopackage are materialized to the task tmp dir from hand-crafted
spec bytes (ESRI Shapefile Technical Description; OGC 12-128r14), the
distributed readers scan them, and the oracle is a hand-written
VALUES table of what the spec bytes encode — independent of the
reader implementation."""

from __future__ import annotations

import os
import sqlite3
import struct
import tempfile

import numpy as np

from . import register
from ..kernels import wkb as kwkb

_FIX_DIR = os.path.join(tempfile.gettempdir(), "gdal_spark_format_fixtures")

_PTS = [(3.5, -2.25, "alpha", 7), (40.0, 50.0, "beta", -3),
        (12.25, 8.5, "gamma", 11), (0.125, 99.875, "delta", 0)]

_ROADS = [(1, [(0.0, 0.0), (5.0, 5.0), (10.0, 0.0)], "a", 2),
          (2, [(1.0, 1.0), (1.0, 9.0)], "b", 4),
          (3, [(7.5, 2.5), (8.5, 2.5), (9.5, 3.5)], "c", 1)]


def _write_point_shp(base: str) -> None:
    shapes = [struct.pack("<i2d", 1, x, y) for x, y, _n, _v in _PTS]
    recs, shx_entries = [], []
    off_words = 50
    for i, content in enumerate(shapes):
        recs.append(struct.pack(">ii", i + 1, len(content) // 2) + content)
        shx_entries.append(struct.pack(">ii", off_words, len(content) // 2))
        off_words += 4 + len(content) // 2
    body = b"".join(recs)

    def header(total_words):
        return (struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
                + struct.pack(">i", total_words)
                + struct.pack("<ii", 1000, 1)
                + struct.pack("<8d", 0, -3, 41, 100, 0, 0, 0, 0))

    with open(base + ".shp", "wb") as f:
        f.write(header(50 + len(body) // 2) + body)
    with open(base + ".shx", "wb") as f:
        f.write(header(50 + 4 * len(shapes)) + b"".join(shx_entries))
    fields = [("NAME", "C", 10, 0), ("VAL", "N", 8, 0)]
    fds = b""
    rec_size = 1
    for name, ftype, flen, fdec in fields:
        fds += (name.encode().ljust(11, b"\x00") + ftype.encode()
                + b"\x00" * 4 + bytes([flen, fdec]) + b"\x00" * 14)
        rec_size += flen
    hdr = (bytes([0x03, 99, 1, 1])
           + struct.pack("<IHH", len(_PTS), 32 + len(fds) + 1, rec_size)
           + b"\x00" * 20 + fds + b"\x0d")
    with open(base + ".dbf", "wb") as f:
        f.write(hdr)
        for _x, _y, name, val in _PTS:
            f.write(b" " + name.encode().ljust(10)[:10]
                    + str(val).encode().ljust(8)[:8])
        f.write(b"\x1a")


def _write_gpkg(path: str) -> None:
    if os.path.exists(path):
        os.unlink(path)
    con = sqlite3.connect(path)
    con.executescript("""
        CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT,
            identifier TEXT, srs_id INTEGER);
        CREATE TABLE gpkg_geometry_columns (table_name TEXT,
            column_name TEXT, geometry_type_name TEXT, srs_id INTEGER,
            z TINYINT, m TINYINT);
        CREATE TABLE roads (fid INTEGER PRIMARY KEY, geom BLOB,
            name TEXT, lanes INTEGER);
        INSERT INTO gpkg_contents VALUES ('roads', 'features', 'roads', 0);
        INSERT INTO gpkg_geometry_columns VALUES
            ('roads', 'geom', 'LINESTRING', 0, 0, 0);
    """)
    for fid, coords, name, lanes in _ROADS:
        wkb = kwkb.wkb_linestring(np.array(coords))
        xs = [c[0] for c in coords]
        ys = [c[1] for c in coords]
        blob = (b"GP" + bytes([0, 0x01 | (1 << 1)]) + struct.pack("<i", 0)
                + struct.pack("<4d", min(xs), max(xs), min(ys), max(ys))
                + wkb)
        con.execute("INSERT INTO roads VALUES (?,?,?,?)",
                    (fid, blob, name, lanes))
    con.commit()
    con.close()


@register(
    "shapefile_scan",
    sql="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(3.5 AS DOUBLE), CAST(-2.25 AS DOUBLE),
       'alpha', CAST(7 AS BIGINT)),
      (CAST(1 AS BIGINT), CAST(40.0 AS DOUBLE), CAST(50.0 AS DOUBLE),
       'beta', CAST(-3 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(12.25 AS DOUBLE), CAST(8.5 AS DOUBLE),
       'gamma', CAST(11 AS BIGINT)),
      (CAST(3 AS BIGINT), CAST(0.125 AS DOUBLE), CAST(99.875 AS DOUBLE),
       'delta', CAST(0 AS BIGINT))
    ) AS t(fid, x, y, name, val) ORDER BY fid
    """,
    desc="ESRI Shapefile scan (shpopen.c/dbfopen.c role): .shx-index "
         "record-range splits, binary .shp/.dbf parsing on executors; "
         "oracle = hand-written VALUES of what the spec bytes encode",
)
def shapefile_scan_q(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..sources.shapefile import read_shapefile

    os.makedirs(_FIX_DIR, exist_ok=True)
    base = os.path.join(_FIX_DIR, "pts")
    _write_point_shp(base)
    df = read_shapefile(spark, base + ".shp", n_partitions=2)
    return df.select(
        "fid", F.col("xmin").alias("x"), F.col("ymin").alias("y"),
        F.col("NAME").alias("name"), F.col("VAL").alias("val"),
    ).orderBy("fid")


@register(
    "gpkg_scan",
    sql="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
       CAST(10.0 AS DOUBLE), CAST(5.0 AS DOUBLE), 'a', CAST(2 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
       CAST(1.0 AS DOUBLE), CAST(9.0 AS DOUBLE), 'b', CAST(4 AS BIGINT)),
      (CAST(3 AS BIGINT), CAST(7.5 AS DOUBLE), CAST(2.5 AS DOUBLE),
       CAST(9.5 AS DOUBLE), CAST(3.5 AS DOUBLE), 'c', CAST(1 AS BIGINT))
    ) AS t(fid, xmin, ymin, xmax, ymax, name, lanes) ORDER BY fid
    """,
    desc="GeoPackage scan (OGC 12-128r14, gpkg driver role): rowid-"
         "range splits over stdlib sqlite3, GP-header envelope reuse; "
         "oracle = hand-written VALUES of the inserted features",
)
def gpkg_scan_q(spark, sf_dir):
    from ..sources.geopackage import read_geopackage

    os.makedirs(_FIX_DIR, exist_ok=True)
    path = os.path.join(_FIX_DIR, "roads.gpkg")
    _write_gpkg(path)
    df = read_geopackage(spark, path, n_partitions=2)
    return df.select("fid", "xmin", "ymin", "xmax", "ymax", "name",
                     "lanes").orderBy("fid")


@register(
    "geojson_seq_scan",
    sql="""
    SELECT CAST(i AS BIGINT) AS fid,
           CAST(i AS DOUBLE) * 1.5 - 10.0 AS x,
           100.0 - CAST(i AS DOUBLE) * 2.25 AS y,
           'f' || CAST(i AS VARCHAR) AS name,
           CAST((i * 7) % 13 AS BIGINT) AS val
    FROM generate_series(0, 39) t(i) ORDER BY fid
    """,
    desc="GeoJSONSeq scan (RFC 8142 / OGR GeoJSONSeq driver): one "
         "feature per line, natively line-splittable text source, "
         "sequential FID rule; fixture generated from a formula the "
         "oracle RE-DERIVES in SQL (not a VALUES twin); roundtrip via "
         "the part-file writer in tests",
)
def geojson_seq_scan_q(spark, sf_dir):
    import json as _json

    from pyspark.sql import functions as F

    from ..sources.readers import read_geojson_seq

    os.makedirs(_FIX_DIR, exist_ok=True)
    path = os.path.join(_FIX_DIR, "pts.geojsonl")
    with open(path, "w") as fh:
        for i in range(40):
            fh.write(_json.dumps({
                "type": "Feature",
                "geometry": {"type": "Point",
                             "coordinates": [i * 1.5 - 10.0,
                                             100.0 - i * 2.25]},
                "properties": {"name": f"f{i}", "val": (i * 7) % 13},
            }, sort_keys=True) + "\n")
    df = read_geojson_seq(spark, path)
    props = F.from_json("props", "name string, val long")
    return df.select(
        "fid", F.col("xmin").alias("x"), F.col("ymin").alias("y"),
        props["name"].alias("name"), props["val"].alias("val"),
    ).orderBy("fid")


@register(
    "geotiff_scan",
    sql="""
    WITH px AS (
      SELECT r.r, c.c,
             (3 * r.r + 7 * c.c) % 251 AS v
      FROM (SELECT unnest(generate_series(0, 39)) AS r) r
      CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS c) c
    )
    SELECT CAST(r // 16 AS INT) AS ty, CAST(c // 16 AS INT) AS tx,
           CAST(COUNT(*) AS BIGINT) AS npx,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(MIN(v) AS BIGINT) AS min_v,
           CAST(MAX(v) AS BIGINT) AS max_v
    FROM px GROUP BY ty, tx ORDER BY ty, tx
    """,
    desc="GeoTIFF scan (frmts/gtiff baseline role): strip-organized "
         "single-band file decoded executor-side from binaryFile bytes "
         "into ragged (tx, ty, px) tiles (kernels/tiff.py codec — "
         "TIFF 6.0 + GeoTIFF 1.1 tags, PixelScale/Tiepoint "
         "georeferencing, EPSG geokey, GDAL_NODATA); per-tile "
         "aggregates of the formula image re-derived relationally by "
         "the oracle",
)
def geotiff_scan_q(spark, sf_dir):
    import numpy as np
    from pyspark.sql import functions as F

    from ..kernels.tiff import write_geotiff
    from ..sources.geotiff import read_geotiff_tiles

    os.makedirs(_FIX_DIR, exist_ok=True)
    path = os.path.join(_FIX_DIR, "scan.tif")
    r, c = np.mgrid[0:40, 0:60]
    img = ((3 * r + 7 * c) % 251).astype(np.uint8)
    with open(path, "wb") as fh:
        fh.write(write_geotiff(img,
                               geotransform=(10.0, 0.5, 0, 100.0, 0, -0.5),
                               epsg=32601, rows_per_strip=7))

    tiles = read_geotiff_tiles(spark, path, tile_size=16)

    def _stats(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for _, rr in pdf.iterrows():
                t = np.frombuffer(rr["px"], dtype=rr["dtype"]).astype(
                    np.int64)
                rows.append({"ty": int(rr["ty"]), "tx": int(rr["tx"]),
                             "npx": int(t.size), "sum_v": int(t.sum()),
                             "min_v": int(t.min()), "max_v": int(t.max())})
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(
        _stats, "ty int, tx int, npx long, sum_v long, min_v long, "
                "max_v long").orderBy("ty", "tx")


@register(
    "geotiff_scan_split",
    sql="""
    WITH px AS (
      SELECT r.r, c.c,
             (3 * r.r + 7 * c.c) % 251 AS v
      FROM (SELECT unnest(generate_series(0, 119)) AS r) r
      CROSS JOIN (SELECT unnest(generate_series(0, 89)) AS c) c
    )
    SELECT CAST(r // 16 AS INT) AS ty, CAST(c // 16 AS INT) AS tx,
           CAST(COUNT(*) AS BIGINT) AS npx,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(MIN(v) AS BIGINT) AS min_v,
           CAST(MAX(v) AS BIGINT) AS max_v
    FROM px GROUP BY ty, tx ORDER BY ty, tx
    """,
    desc="GeoTIFF scan with IN-FILE parallelism (gdalrasterband.cpp "
         "block-window role): a BigTIFF TILED granule (magic 43, "
         "8-byte offsets, tags 322-325, deflate+predictor) is decoded "
         "as row-range SPLITS — header-only manifest, then each task "
         "seek-reads just its tile rows — with a tiny split target so "
         "the one file becomes many real splits; per-tile aggregates "
         "re-derived relationally by the oracle",
)
def geotiff_scan_split_q(spark, sf_dir):
    from pyspark.sql import functions as F  # noqa: F401

    from ..kernels.tiff import write_geotiff_ext
    from ..sources.geotiff import read_geotiff_tiles_split

    os.makedirs(_FIX_DIR, exist_ok=True)
    path = os.path.join(_FIX_DIR, "scan_split.tif")
    r, c = np.mgrid[0:120, 0:90]
    img = ((3 * r + 7 * c) % 251).astype(np.uint8)
    with open(path, "wb") as fh:
        fh.write(write_geotiff_ext(
            img, geotransform=(10.0, 0.5, 0, 100.0, 0, -0.5),
            epsg=32601, tile_size=32, compression="deflate",
            predictor=2, bigtiff=True))

    # 16-px tiles, ~3-tile-row splits: the single granule plans
    # into multiple genuine row-range splits
    tiles = read_geotiff_tiles_split(spark, path, tile_size=16,
                                     target_split_bytes=4096)

    def _stats(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for _, rr in pdf.iterrows():
                t = np.frombuffer(rr["px"], dtype=rr["dtype"]).astype(
                    np.int64)
                rows.append({"ty": int(rr["ty"]), "tx": int(rr["tx"]),
                             "npx": int(t.size), "sum_v": int(t.sum()),
                             "min_v": int(t.min()), "max_v": int(t.max())})
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(
        _stats, "ty int, tx int, npx long, sum_v long, min_v long, "
                "max_v long").orderBy("ty", "tx")


@register(
    "geotiff_roundtrip",
    sql="""
    WITH px AS (
      SELECT r.r, c.c, (5 * r.r + 11 * c.c) % 241 AS v
      FROM (SELECT unnest(generate_series(0, 31)) AS r) r
      CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS c) c
    )
    SELECT CAST(1 AS INT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS npx,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq
    FROM px
    """,
    desc="GeoTIFF sink->scan roundtrip (gdal_translate -of GTiff "
         "role): formula tiles -> per-key part-file assembly "
         "(deflate+predictor) -> binaryFile re-scan -> whole-image "
         "aggregates; the oracle re-derives the pixel formula "
         "relationally, so a single flipped bit anywhere in the "
         "write->read path breaks sum/sum_sq",
)
def geotiff_roundtrip_q(spark, sf_dir):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ..kernels.tiff import write_geotiff
    from ..sources.geotiff import (read_geotiff_tiles,
                                   write_geotiff_part_files)

    os.makedirs(_FIX_DIR, exist_ok=True)
    src = os.path.join(_FIX_DIR, "rt_src.tif")
    r, c = np.mgrid[0:32, 0:48]
    img = ((5 * r + 11 * c) % 241).astype(np.uint8)
    with open(src, "wb") as fh:
        fh.write(write_geotiff(img,
                               geotransform=(0.0, 1.0, 0, 32.0, 0, -1.0),
                               epsg=32601))
    tiles = read_geotiff_tiles(spark, src, tile_size=16)
    out_dir = os.path.join(_FIX_DIR, "rt_out")
    res = write_geotiff_part_files(tiles, out_dir, tile_size=16)
    n_files = res.count()
    back = read_geotiff_tiles(spark, os.path.join(out_dir, "*.tif"),
                              tile_size=16)

    def _stats(batches):
        for pdf in batches:
            rows = []
            for _, rr_ in pdf.iterrows():
                t = np.frombuffer(rr_["px"], dtype=rr_["dtype"]).astype(
                    np.int64)
                rows.append({"npx": int(t.size), "sum_v": int(t.sum()),
                             "sum_sq": int((t * t).sum())})
            yield pd.DataFrame(rows)

    agg = back.mapInPandas(_stats, "npx long, sum_v long, sum_sq long") \
        .agg(F.sum("npx").alias("npx"), F.sum("sum_v").alias("sum_v"),
             F.sum("sum_sq").alias("sum_sq"))
    return agg.select(F.lit(int(n_files)).cast("int").alias("n_files"),
                      "npx", "sum_v", "sum_sq")


@register(
    "geotiff_sink_single",
    sql="""
    WITH px AS (
      SELECT r.r, c.c,
             CASE WHEN c.c // 16 = 2 AND r.r // 16 = 1 THEN 0
                  ELSE (5 * r.r + 11 * c.c) % 241 END AS v
      FROM (SELECT unnest(generate_series(0, 47)) AS r) r
      CROSS JOIN (SELECT unnest(generate_series(16, 79)) AS c) c
    )
    SELECT CAST(64 AS INT) AS w, CAST(48 AS INT) AS h,
           CAST(3 AS INT) AS n_strips,
           CAST(COUNT(*) AS BIGINT) AS npx,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq
    FROM px
    """,
    desc="DISTRIBUTED single-granule GeoTIFF sink (write_geotiff_single"
         " — strip stage where the tiles are, driver writes only the "
         "IFD from per-strip byte counts, executors pwrite disjoint "
         "ranges; bounded task memory at ANY raster size): formula "
         "tiles minus the tx=0 column (crop anchoring) minus one "
         "interior tile (zero-filled hole) -> one deflate+predictor "
         "GeoTIFF -> row-range split re-scan -> whole-image "
         "aggregates; the oracle re-derives the cropped, holed "
         "formula relationally",
)
def geotiff_sink_single_q(spark, sf_dir):
    import numpy as np
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    from ..kernels.tiff import write_geotiff
    from ..sources.geotiff import (read_geotiff_tiles,
                                   read_geotiff_tiles_split,
                                   write_geotiff_single)

    os.makedirs(_FIX_DIR, exist_ok=True)
    src = os.path.join(_FIX_DIR, "sink_src.tif")
    r, c = np.mgrid[0:48, 0:80]
    img = ((5 * r + 11 * c) % 241).astype(np.uint8)
    with open(src, "wb") as fh:
        fh.write(write_geotiff(img,
                               geotransform=(0.0, 1.0, 0, 48.0, 0, -1.0),
                               epsg=32601))
    tiles = read_geotiff_tiles(spark, src, tile_size=16)
    crop = tiles.filter(
        (F.col("tx") >= 1)
        & ~((F.col("tx") == 2) & (F.col("ty") == 1)))
    out = os.path.join(_FIX_DIR, "sink_single.tif")
    info = write_geotiff_single(crop, out, tile_size=16)
    back = read_geotiff_tiles_split(spark, out, tile_size=16,
                                    target_split_bytes=2048)

    def _stats(batches):
        for pdf in batches:
            rows = []
            for _, rr_ in pdf.iterrows():
                t = np.frombuffer(rr_["px"], dtype=rr_["dtype"]).astype(
                    np.int64)
                rows.append({"npx": int(t.size), "sum_v": int(t.sum()),
                             "sum_sq": int((t * t).sum())})
            yield pd.DataFrame(rows)

    agg = back.mapInPandas(_stats, "npx long, sum_v long, sum_sq long") \
        .agg(F.sum("npx").alias("npx"), F.sum("sum_v").alias("sum_v"),
             F.sum("sum_sq").alias("sum_sq"))
    return agg.select(
        F.lit(int(info["w"])).cast("int").alias("w"),
        F.lit(int(info["h"])).cast("int").alias("h"),
        F.lit(int(info["n_strips"])).cast("int").alias("n_strips"),
        "npx", "sum_v", "sum_sq")
