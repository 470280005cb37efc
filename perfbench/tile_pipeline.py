"""tile_pipeline: the launch shape of ``jobs/tile_pipeline.py``.

Docs are read from parquet; ``extract_geo_points`` -> first-match
``spatial_join`` -> ``rasterize_tiles`` (ADD, uint16) at ZOOM ->
``pyramid_reduce`` down to z0, every level committed with
``lineage.commit_partitioned`` into a fresh directory.  It is the only
workload that writes, so a read-side gain that slows writes shows
here.  Each op checks its lineage records per level; one untimed pass
per run checks every tile checksum against a single-array kernel
rasterize of the same points, the span-sequence invariant, the
lineage row counts and that a resume pass finds nothing pending.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gdal_spark.kernels import checksum as kck
from gdal_spark.kernels import rasterize as kr
from gdal_spark.kernels import wkb as kwkb
from gdal_spark.kernels.cells import TileGrid
from gdal_spark.operators import lineage as ln
from gdal_spark.operators.raster_tile import pyramid_reduce, rasterize_tiles
from gdal_spark.operators.spatial_join import (extract_geo_points, prepare_edges,
                                               spatial_join)
from gdal_spark.sources import fixtures as fx

from . import inputs

N_DOCS = 20_000
ZOOM = 2
JOIN_ZOOM = 6
_POINT = re.compile(r"POINT\(([-0-9.]+) ([-0-9.]+)\)")


def _with_unit(tiles, z: int):
    """Lineage unit = 4x4 tile block within the level, level in the
    high bits (as in jobs/tile_pipeline.py)."""
    return tiles.withColumn(
        "unit",
        F.shiftleft(F.lit(z).cast("long"), 40)
        .bitwiseOR(F.shiftleft(F.shiftrightunsigned("tx", 2), 20))
        .bitwiseOR(F.shiftrightunsigned("ty", 2)))


def _point_wkb():
    @F.pandas_udf("binary")
    def point_wkb(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series([kwkb.wkb_point(x, y) for x, y in zip(xs, ys)])
    return point_wkb


def expected_tiles(docs: pd.DataFrame, grid: TileGrid) -> dict[int, dict]:
    """{z: {(tx, ty): checksum}} for every level, from one uint16
    canvas per level: the joined points burned with the scanline
    kernel at ZOOM, then (sum + 2) // 4 averaged down to z0."""
    geo = [next(s["text"] for s in spans if s["kind"] == "geo") for spans in docs["spans"]]
    xy = np.array([[float(v) for v in _POINT.match(t).groups()] for t in geo])
    inside = np.zeros(len(xy), dtype=bool)
    for idx, _fid in inputs.pip_pairs(xy[:, 0], xy[:, 1]):
        inside[idx] = True
    xy = xy[inside]
    ts = grid.tile_size
    tx, ty = grid.tile_xy(ZOOM, xy[:, 0], xy[:, 1])
    side = (1 << ZOOM) * ts
    canvas = np.zeros((side, side), dtype=np.uint16)
    px = np.empty_like(xy)
    for t in set(zip(tx.tolist(), ty.tolist())):
        sel = (tx == t[0]) & (ty == t[1])
        local = kr.world_to_pixel(xy[sel], grid.geotransform(ZOOM, *t))
        keep = ((local >= 0) & (local < ts)).all(axis=1)
        sel_idx = np.nonzero(sel)[0]
        px[sel_idx[keep]] = np.floor(local[keep]) + np.array(t) * ts
        px[sel_idx[~keep]] = -1
    kr.burn_points(canvas, px, 1, kr.MERGE_ADD)
    occupied = {ZOOM: set(zip(tx.tolist(), ty.tolist()))}
    out = {}
    for z in range(ZOOM, -1, -1):
        if z < ZOOM:
            c = canvas.astype(np.int64)
            canvas = ((c[::2, ::2] + c[::2, 1::2] + c[1::2, ::2] + c[1::2, 1::2] + 2)
                      // 4).astype(np.uint16)
            occupied[z] = {(x >> 1, y >> 1) for x, y in occupied[z + 1]}
        out[z] = {(x, y): kck.checksum(canvas[y * ts:(y + 1) * ts, x * ts:(x + 1) * ts])
                  for x, y in occupied[z]}
    return out


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def run(b) -> int:
    """Returns the number of input docs."""
    spark, tr = b.spark, b.tracer
    n = int(N_DOCS * b.scale)
    docs_path = b.path("docs.parquet")
    with tr.span("sources.input_gen"), b.setup_step("input_gen_s"):
        docs_pdf = fx.docs_pandas(n, b.seed)
        b.layer["sources.input_bytes"] = inputs.write_parquet(docs_pdf, docs_path)
    b.layer["sources.input_gen_s"] = b.setup_wall["input_gen_s"]
    grid = TileGrid.local(*fx.POLY_BBOX)
    want = expected_tiles(docs_pdf, grid)
    want_counts = {z: len(t) for z, t in want.items()}
    del docs_pdf

    def scan():
        with tr.span("sources.scan"):
            return spark.read.parquet(docs_path).count()

    b.repeated_setup("scan_s", scan)
    b.layer["sources.scan_s"] = b.setup_wall["scan_s"]

    polys = spark.createDataFrame(fx.polygons_pandas())
    with tr.span("spatial_join.prepare_edges"), b.setup_step("prepare_edges_s"):
        edges = prepare_edges(polys)
        edges.count()
    b.layer["spatial_join.prepare_edges_s"] = b.setup_wall["prepare_edges_s"]
    point_wkb = _point_wkb()

    def joined_points():
        docs = spark.read.parquet(docs_path)
        return spatial_join(extract_geo_points(docs), polys, grid, zoom=JOIN_ZOOM,
                            first_match=True, edges=edges)

    def materialize(df, span):
        """Traced runs cut the lazy plan at layer boundaries so each
        layer's jobs land in its own span."""
        if not b.trace:
            return df
        with tr.span(span):
            df = df.persist()
            df.count()
        return df

    def level(out: str, z: int):
        if z == ZOOM:
            joined = materialize(joined_points(), "spatial_join")
            geoms = joined.select(
                F.col("doc_id").alias("fid"),
                F.col("x").alias("xmin"), F.col("y").alias("ymin"),
                F.col("x").alias("xmax"), F.col("y").alias("ymax"),
                point_wkb("x", "y").alias("wkb"))
            tiles = rasterize_tiles(geoms, grid, z, burn=1.0, merge="ADD",
                                    dtype="uint16")
            return materialize(tiles, "raster_tile.rasterize")
        prev = ln.read_stage(spark, out).filter(F.col("z") == z + 1)
        return materialize(pyramid_reduce(prev, z + 1, method="average",
                                          dtype="uint16"), "raster_tile.pyramid")

    def pipeline(i: int, out: str):
        records = {}
        for z in range(ZOOM, -1, -1):
            tiles = _with_unit(level(out, z), z)
            with tr.span("lineage.commit"):
                records[z] = ln.commit_partitioned(spark, out, f"run{i}", f"tiles:{z}", tiles)
        return records

    committed = []

    def op(i):
        out = b.path(f"tiles-{i}")
        records = pipeline(i, out)
        committed.append(out)
        got = {z: sum(r["row_count"] for r in recs) for z, recs in records.items()}
        return None if got == want_counts else f"tiles per level {got} != {want_counts}"

    with b.setup_step("warmup_s"):
        b.checks.record("warmup", op(-1) is None, "wrong tile counts")
    b.sample_rss()
    b.timed_loop("tile_pipeline", op)

    # per pipeline: spans of the warm-up and every timed op
    n_runs = max(1, len(tr.durations("spatial_join")))
    n_tiles = sum(want_counts.values())
    last = committed[-1]
    written = _dir_bytes(last)
    b.layer.update({
        "spatial_join.s": tr.median("spatial_join"),
        "raster_tile.rasterize_s": tr.median("raster_tile.rasterize"),
        "raster_tile.pyramid_s": sum(tr.durations("raster_tile.pyramid")) / n_runs,
        "raster_tile.tiles": n_tiles,
        "lineage.commit_s": sum(tr.durations("lineage.commit")) / n_runs,
        "lineage.bytes_written": written,
        "lineage.write_amp": written / (n_tiles * grid.tile_size ** 2 * 2),
    })

    # untimed checks on the last committed output
    got = {}
    for r in ln.read_stage(spark, last).select("z", "tx", "ty", "checksum").collect():
        got.setdefault(r["z"], {})[(r["tx"], r["ty"])] = r["checksum"]
    b.checks.equal("tile_checksums", got, want)

    lineage = ln.read_lineage(spark, last).groupBy("stage").agg(
        F.count("*").alias("units"), F.sum("row_count").alias("rows")).collect()
    rows = {int(r["stage"].split(":")[1]): int(r["rows"]) for r in lineage}
    b.checks.equal("lineage_row_counts", rows, {z: len(t) for z, t in got.items()})
    b.layer["lineage.units"] = sum(int(r["units"]) for r in lineage)

    # resume pass: every unit present in the committed data must
    # already have its lineage record, so nothing is pending
    t0 = time.perf_counter()
    with tr.span("lineage.resume"):
        data = ln.read_stage(spark, last)     # unit is the partition column
        pending = sum(
            ln.pending_units(data.filter(F.col("z") == z).select("unit").distinct(),
                             spark, last, f"tiles:{z}").count()
            for z in range(ZOOM, -1, -1))
    b.layer["lineage.resume_noop_s"] = time.perf_counter() - t0
    b.checks.equal("resume_pending_units", pending, 0)

    spans_in = spark.read.parquet(docs_path).select(
        "doc_id", F.xxhash64(F.to_json("spans")).alias("h_in"))
    spans_out = joined_points().select(
        "doc_id", F.xxhash64(F.to_json("spans")).alias("h_out"))
    violations = spans_out.join(spans_in, "doc_id").filter(
        F.col("h_in") != F.col("h_out")).count()
    b.checks.equal("span_sequence_violations", violations, 0)
    return n
