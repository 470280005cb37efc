"""bulk_join: steady-state spatial_join of skewed points against the
10-polygon fixture layer.

The BASELINE metric (spatial-join docs/s) at steady state: points are
persisted and the edge table prepared in set-up, so the timed path is
the JVM cell join, envelope pretest and ray cast, with no Python.
Each timed join ends in a one-row digest of its (doc_id, fid) pairs,
checked against the numpy kernel ``kernels.pip.points_in_polygon``.
"""

from __future__ import annotations

import statistics

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import functions as F

from gdal_spark import functions as gf
from gdal_spark.kernels.cells import TileGrid
from gdal_spark.operators.spatial_join import (polygon_cells, prepare_edges,
                                               spatial_join)
from gdal_spark.sources import fixtures as fx

from . import inputs

N_POINTS = 800_000
ZOOM = 6
PARTITIONS = 8


def digest(df) -> dict:
    """One-row digest of (doc_id, fid) pairs, twin of inputs.pair_digest."""
    k = (F.col("doc_id") * 16 + F.col("fid")).alias("k")
    row = df.select(k).agg(F.count("*").alias("rows"),
                           F.coalesce(F.bit_xor("k"), F.lit(0)).alias("xor"),
                           F.coalesce(F.sum("k"), F.lit(0)).alias("sum")).collect()[0]
    return {"rows": int(row["rows"]), "xor": int(row["xor"]), "sum": int(row["sum"])}


def expected_digest(pdf) -> dict:
    x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
    ids = pdf["doc_id"].to_numpy()
    pairs = inputs.pip_pairs(x, y)
    doc = np.concatenate([ids[idx] for idx, _ in pairs])
    fid = np.concatenate([np.full(idx.size, f) for idx, f in pairs])
    return inputs.pair_digest(doc, fid)


def run(b) -> int:
    """Returns the number of input points (the unit of items_per_s)."""
    spark, tr = b.spark, b.tracer
    n = int(N_POINTS * b.scale)
    path = b.path("points.parquet")
    with tr.span("sources.input_gen"), b.setup_step("input_gen_s"):
        pdf = inputs.skewed_points(n, b.seed)
        b.layer["sources.input_bytes"] = inputs.write_parquet(pdf, path)
    b.layer["sources.input_gen_s"] = b.setup_wall["input_gen_s"]
    want = expected_digest(pdf)
    b.detail["expected"] = want
    del pdf

    loaded = []

    def load():
        for df in loaded:
            df.unpersist(blocking=True)
        loaded.clear()
        with tr.span("sources.scan"):
            df = (spark.read.parquet(path).repartition(PARTITIONS)
                  .persist(StorageLevel.MEMORY_ONLY))
            df.count()
        loaded.append(df)
        return df

    pts = b.repeated_setup("scan_s", load)
    b.layer["sources.scan_s"] = b.setup_wall["scan_s"]

    polys = spark.createDataFrame(fx.polygons_pandas())
    with tr.span("spatial_join.prepare_edges"), b.setup_step("prepare_edges_s"):
        edges = prepare_edges(polys)
        edges.count()
    b.layer["spatial_join.prepare_edges_s"] = b.setup_wall["prepare_edges_s"]
    grid = TileGrid.local(*fx.POLY_BBOX)

    def op(_i):
        got = digest(spatial_join(pts, polys, grid, zoom=ZOOM, edges=edges))
        return None if got == want else f"digest {got} != {want}"

    with b.setup_step("warmup_s"):
        for i in (-2, -1):
            b.checks.record(f"warmup[{i}]", op(i) is None, "wrong digest")
    b.sample_rss()

    b.timed_loop("spatial_join", op)
    b.layer["spatial_join.s"] = tr.median("spatial_join")
    b.layer["spatial_join.matches"] = want["rows"]

    if b.trace:
        cells = pts.withColumn("cell", gf.cell_col(grid, ZOOM, F.col("x"), F.col("y")))
        for _ in range(3):
            with tr.span("functions.cell_encode"):
                cells.agg(F.bit_xor("cell")).collect()
        b.layer["functions.cell_encode_s"] = tr.median("functions.cell_encode")
        pcells = polygon_cells(polys, grid, ZOOM).select(
            "cell", "fid", "xmin", "ymin", "xmax", "ymax")
        phase1 = cells.join(F.broadcast(pcells), "cell").filter(
            (F.col("x") >= F.col("xmin")) & (F.col("x") <= F.col("xmax"))
            & (F.col("y") >= F.col("ymin")) & (F.col("y") <= F.col("ymax")))
        counts = []
        for _ in range(3):
            with tr.span("spatial_join.phase1"):
                counts.append(phase1.count())
        b.layer["spatial_join.phase1_s"] = tr.median("spatial_join.phase1")
        b.layer["spatial_join.candidates"] = statistics.median(counts)
        b.layer["spatial_join.hit_ratio"] = want["rows"] / max(1, counts[0])
    return n
