"""GeoPackage (OGC 12-128r14) reader + part-file sink via the Python
stdlib sqlite3 — reads distributed by rowid ranges, writes one .gpkg
per partition.

The reference's driver (/root/reference/ogr/ogrsf_frmts/gpkg/) reads
features through SQLite; here the DRIVER opens the file once to list
feature tables (``gpkg_contents`` / ``gpkg_geometry_columns``) and
count rows, then each task opens the file read-only and scans its own
``rowid`` range — SQLite b-tree range scans make the split cheap, so
one large .gpkg parallelizes without coordination.

Geometry BLOBs carry the GeoPackageBinaryHeader (magic 'GP', version,
flags with a 3-bit envelope indicator, srs_id) followed by standard
WKB (spec §2.1.3 / the reference's GPkgHeaderFromWKB) — the header is
stripped and the envelope, when present, reused as the bbox without
re-parsing the WKB.
"""

from __future__ import annotations

import sqlite3
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernels import wkb as kwkb

_ENV_SIZE = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}


def gpkg_blob_to_wkb(blob: bytes):
    """Returns (wkb, bbox|None); None for empty/null geometries.

    A blob too short for its header or envelope raises ``ValueError``
    (the hostile-input contract of the in-repo byte parsers); the WKB
    after the header is returned as it is."""
    if blob is None or len(blob) < 8 or blob[0:2] != b"GP":
        return None, None
    flags = blob[3]
    if flags & 0x20:                   # ExtendedGeoPackageBinary: a
        return None, None              # 4-byte extension code precedes
                                       # the WKB; not parseable here
    if flags & 0x10:                   # empty-geometry flag
        return None, None
    env_type = (flags >> 1) & 0x07
    env_size = _ENV_SIZE.get(env_type)
    if env_size is None:
        return None, None
    off = 8
    bbox = None
    if len(blob) < off + env_size:
        raise ValueError(f"GeoPackage blob of {len(blob)} bytes ends inside "
                         f"its {env_size}-byte envelope")
    if env_size:
        little = bool(flags & 0x01)
        fmt = "<4d" if little else ">4d"
        minx, maxx, miny, maxy = struct.unpack_from(fmt, blob, off)
        bbox = (minx, miny, maxx, maxy)
        off += env_size
    wkb = blob[off:]
    if bbox is None and wkb:
        bbox = kwkb.wkb_bbox(wkb)
    return wkb, bbox


def list_feature_tables(path: str) -> list[str]:
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        rows = con.execute(
            "SELECT table_name FROM gpkg_contents "
            "WHERE data_type = 'features' ORDER BY table_name").fetchall()
        return [r[0] for r in rows]
    finally:
        con.close()


def read_geopackage(spark: SparkSession, path: str,
                    table: str | None = None,
                    n_partitions: int = 32) -> DataFrame:
    """Returns DF(fid, wkb, xmin, ymin, xmax, ymax, <attributes...>)
    for one feature table (default: the first in gpkg_contents)."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        if table is None:
            tables = list_feature_tables(path)
            if not tables:
                raise ValueError("no feature tables in gpkg_contents")
            table = tables[0]
        geom_col = con.execute(
            "SELECT column_name FROM gpkg_geometry_columns "
            "WHERE table_name = ?", (table,)).fetchone()[0]
        cols = [r[1] for r in con.execute(f'PRAGMA table_info("{table}")')]
        # the feature id comes from rowid (== the INTEGER PRIMARY KEY
        # when one exists), so drop a same-named attribute column
        attr_cols = [c for c in cols
                     if c != geom_col and c.lower() != "fid"]
        types = {r[1]: (r[2] or "").upper()
                 for r in con.execute(f'PRAGMA table_info("{table}")')}
        lo, hi = con.execute(
            f'SELECT MIN(rowid), MAX(rowid) FROM "{table}"').fetchone()
    finally:
        con.close()
    if lo is None:
        lo, hi = 0, -1

    step = max(1, -(-(hi - lo + 1) // n_partitions))
    ranges = [(r, min(r + step - 1, hi)) for r in range(lo, hi + 1, step)]
    if not ranges:
        ranges = [(0, -1)]
    rng_df = spark.createDataFrame(
        pd.DataFrame(ranges, columns=["lo", "hi"]))

    sel = ", ".join(f'"{c}"' for c in attr_cols)

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, rr in pdf.iterrows():
                con2 = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
                try:
                    cur = con2.execute(
                        f'SELECT rowid, "{geom_col}"'
                        + (", " + sel if sel else "")
                        + f' FROM "{table}" WHERE rowid BETWEEN ? AND ?',
                        (int(rr["lo"]), int(rr["hi"])))
                    rows = []
                    for rec in cur:
                        wkb, bbox = gpkg_blob_to_wkb(rec[1])
                        bbox = bbox or (None, None, None, None)
                        row = {"fid": rec[0], "wkb": wkb,
                               "xmin": bbox[0], "ymin": bbox[1],
                               "xmax": bbox[2], "ymax": bbox[3]}
                        row.update(dict(zip(attr_cols, rec[2:])))
                        rows.append(row)
                finally:
                    con2.close()
                yield pd.DataFrame(rows, columns=[
                    "fid", "wkb", "xmin", "ymin", "xmax", "ymax",
                    *attr_cols])

    def _sql_type(c: str) -> str:
        t = types.get(c, "")
        if "INT" in t:
            return "long"
        if t in ("REAL", "FLOAT", "DOUBLE"):
            return "double"
        return "string"

    schema = ("fid long, wkb binary, xmin double, ymin double, "
              "xmax double, ymax double")
    for c in attr_cols:
        schema += f", {c} {_sql_type(c)}"
    return rng_df.mapInPandas(_scan, schema)

def wkb_to_gpkg_blob(wkb: bytes, srs_id: int = 4326) -> bytes:
    """StandardGeoPackageBinary blob (spec §2.1.3, the reverse of the
    reference's GPkgHeaderFromWKB — ogr/ogrsf_frmts/gpkg/
    ogrgeopackagelayer.cpp GDALGeoPackageDataset::GPkgHeaderFromWKB):
    magic 'GP', version 0, flags = little-endian | XY envelope,
    int32 srs_id, envelope (minx, maxx, miny, maxy), then the WKB."""
    if wkb is None:
        return None
    bbox = kwkb.wkb_bbox(bytes(wkb))
    if bbox is None:
        # no envelope (indicator 0), flags = 0x01 (little-endian)
        return b"GP" + bytes([0, 0x01]) + struct.pack("<i", srs_id) + wkb
    minx, miny, maxx, maxy = bbox
    flags = 0x01 | (1 << 1)               # little-endian, envelope=1
    return (b"GP" + bytes([0, flags]) + struct.pack("<i", srs_id)
            + struct.pack("<4d", minx, maxx, miny, maxy) + bytes(wkb))


_GPKG_SRS_ROWS = [
    # (srs_name, srs_id, organization, org_id, definition) — the three
    # rows CreateSpatialRefSysTable seeds (gpkg/ogrgeopackagedatasource
    # .cpp): WGS84, undefined cartesian (-1), undefined geographic (0)
    ("WGS 84 geodetic", 4326, "EPSG", 4326, "GEOGCS[\"WGS 84\"]"),
    ("Undefined cartesian SRS", -1, "NONE", -1, "undefined"),
    ("Undefined geographic SRS", 0, "NONE", 0, "undefined"),
]


def write_geopackage(df: DataFrame, out_dir: str, table: str = "features",
                     srs_id: int = 4326,
                     geometry_type: str = "GEOMETRY") -> None:
    """Distributed GeoPackage sink: each partition writes one
    ``part-NNNNN.gpkg`` under ``out_dir`` (the part-file layout every
    Spark sink uses — embarrassingly parallel, resumable at partition
    granularity; ``read_geopackage`` on any part or a union over the
    parts restores the layer).

    df needs a ``wkb`` binary column; ``fid`` (long) is used as the
    INTEGER PRIMARY KEY when present, else rowids are assigned.  All
    other columns become attributes (long -> INTEGER, double -> REAL,
    else TEXT).  Each part is a spec-complete GeoPackage:
    application_id 'GPKG', gpkg_spatial_ref_sys seeded with the three
    required SRS rows, gpkg_contents + gpkg_geometry_columns entries
    with the layer envelope."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    has_fid = "fid" in df.columns
    skip = {"wkb", "fid", "xmin", "ymin", "xmax", "ymax"}
    attr_cols = [c for c in df.columns if c not in skip]
    sql_t = {}
    for f in df.schema.fields:
        if f.dataType.simpleString() in ("bigint", "int", "smallint",
                                         "tinyint", "boolean"):
            sql_t[f.name] = "INTEGER"
        elif f.dataType.simpleString() in ("double", "float"):
            sql_t[f.name] = "REAL"
        else:
            sql_t[f.name] = "TEXT"

    def _write_part(pid: int, rows):
        rows = list(rows)
        path = os.path.join(out_dir, f"part-{pid:05d}.gpkg")
        if os.path.exists(path):
            os.unlink(path)
        con = sqlite3.connect(path)
        try:
            con.execute("PRAGMA application_id = 1196444487")  # 'GPKG'
            con.execute("PRAGMA user_version = 10300")         # 1.3.0
            con.execute(
                "CREATE TABLE gpkg_spatial_ref_sys ("
                "srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY, "
                "organization TEXT NOT NULL, "
                "organization_coordsys_id INTEGER NOT NULL, "
                "definition TEXT NOT NULL, description TEXT)")
            con.executemany(
                "INSERT INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,NULL)",
                _GPKG_SRS_ROWS)
            con.execute(
                "CREATE TABLE gpkg_contents ("
                "table_name TEXT PRIMARY KEY, data_type TEXT NOT NULL, "
                "identifier TEXT UNIQUE, description TEXT DEFAULT '', "
                "last_change TEXT, "
                "min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, "
                "srs_id INTEGER)")
            con.execute(
                "CREATE TABLE gpkg_geometry_columns ("
                "table_name TEXT NOT NULL, column_name TEXT NOT NULL, "
                "geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL, "
                "z TINYINT NOT NULL, m TINYINT NOT NULL, "
                "CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, "
                "column_name))")
            cols = ['"fid" INTEGER PRIMARY KEY', '"geom" BLOB']
            cols += [f'"{c}" {sql_t[c]}' for c in attr_cols]
            con.execute(f'CREATE TABLE "{table}" ({", ".join(cols)})')

            env = [None, None, None, None]
            ins = (f'INSERT INTO "{table}" VALUES '
                   f'({", ".join("?" * (2 + len(attr_cols)))})')
            for r in rows:
                wkb = bytes(r["wkb"]) if r["wkb"] is not None else None
                blob = wkb_to_gpkg_blob(wkb, srs_id) if wkb else None
                if wkb:
                    bb = kwkb.wkb_bbox(wkb)
                    if bb:
                        env[0] = bb[0] if env[0] is None else min(env[0], bb[0])
                        env[1] = bb[1] if env[1] is None else min(env[1], bb[1])
                        env[2] = bb[2] if env[2] is None else max(env[2], bb[2])
                        env[3] = bb[3] if env[3] is None else max(env[3], bb[3])
                fid = int(r["fid"]) if has_fid and r["fid"] is not None \
                    else None
                con.execute(ins, (fid, blob, *[r[c] for c in attr_cols]))
            con.execute(
                "INSERT INTO gpkg_contents (table_name, data_type, "
                "identifier, min_x, min_y, max_x, max_y, srs_id) "
                "VALUES (?, 'features', ?, ?, ?, ?, ?, ?)",
                (table, table, env[0], env[1], env[2], env[3], srs_id))
            con.execute(
                "INSERT INTO gpkg_geometry_columns VALUES (?,?,?,?,0,0)",
                (table, "geom", geometry_type, srs_id))
            con.commit()
        finally:
            con.close()
        yield pid, len(rows)

    parts = df.rdd.mapPartitionsWithIndex(
        lambda pid, it: _write_part(pid, it)).collect()
    if not parts:
        raise ValueError("empty DataFrame")
