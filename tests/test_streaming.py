"""Streaming pipeline: batch/stream parity + exactly-once resume."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from gdal_spark.kernels.cells import TileGrid
from gdal_spark.operators import lineage as ln
from gdal_spark.queries import _derive as dv
from gdal_spark.streaming import (
    stream_docs_from_files, windowed_cell_counts, write_stream_with_lineage)

SCHEMA = "doc_id bigint, x double, y double, ts timestamp"


@pytest.fixture()
def dirs():
    d = tempfile.mkdtemp(prefix="stream_")
    yield (f"{d}/in", f"{d}/out", f"{d}/ckpt")
    shutil.rmtree(d, ignore_errors=True)


def _batch(spark, n=500, offset=0):
    x, y = dv.point_cols(F.col("doc_id"))
    return (
        spark.range(offset, offset + n)
        .select(F.col("id").alias("doc_id"))
        .withColumn("x", x).withColumn("y", y)
        .withColumn(
            "ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") % 7200),
        )
    )


def test_stream_matches_batch(spark, dirs):
    in_dir, out_dir, ckpt = dirs
    _batch(spark).write.mode("overwrite").parquet(in_dir)

    grid = dv.GRID
    stream = stream_docs_from_files(spark, in_dir, SCHEMA)
    agg = windowed_cell_counts(stream, grid, zoom=4, window="1 hour")
    q = write_stream_with_lineage(agg, out_dir, "r1", "cells", ckpt)
    q.awaitTermination(120)

    got = {
        (r["wstart"], r["cell"]): r["n_docs"]
        for r in ln.read_stage(spark, out_dir).collect()
    }
    want_df = (
        _batch(spark)
        .withColumn("cell", __import__("gdal_spark.functions", fromlist=["x"])
                    .cell_col(grid, 4, F.col("x"), F.col("y")))
        .groupBy(F.window("ts", "1 hour").alias("w"), "cell")
        .agg(F.count("*").alias("n"))
    )
    want = {
        (r["w"]["start"], r["cell"]): r["n"] for r in want_df.collect()
    }
    assert got == want and len(got) > 0


def test_stream_resume_no_duplicates(spark, dirs):
    in_dir, out_dir, ckpt = dirs
    _batch(spark, 300, 0).write.mode("overwrite").parquet(in_dir)
    stream = stream_docs_from_files(spark, in_dir, SCHEMA)
    agg = windowed_cell_counts(stream, dv.GRID, zoom=4)
    write_stream_with_lineage(agg, out_dir, "r1", "s", ckpt).awaitTermination(120)
    n1 = ln.read_stage(spark, out_dir).agg(F.sum("n_docs")).collect()[0][0]

    # restart with MORE input files: only the new file is processed,
    # committed batches are not re-applied
    _batch(spark, 300, 1000).write.mode("append").parquet(in_dir)
    stream2 = stream_docs_from_files(spark, in_dir, SCHEMA)
    agg2 = windowed_cell_counts(stream2, dv.GRID, zoom=4)
    write_stream_with_lineage(agg2, out_dir, "r2", "s", ckpt).awaitTermination(120)

    total = ln.read_stage(spark, out_dir).agg(F.sum("n_docs")).collect()[0][0]
    # update-mode re-emits refreshed window rows; per-window-cell MAX
    # count equals the batch truth (no double counting inside a unit)
    want = _batch(spark, 300, 0).unionByName(_batch(spark, 300, 1000)).count()
    latest = (
        ln.read_stage(spark, out_dir)
        .groupBy("wstart", "cell").agg(F.max("n_docs").alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    assert latest == want
    assert n1 is not None and total is not None


def test_stateful_dedup_stream(spark, dirs):
    """applyInPandasWithState dedup: duplicates inside a batch AND
    re-sent texts in a later restarted run are both suppressed
    (state survives via the checkpoint)."""
    import os

    from gdal_spark.streaming import dedup_stream, stream_docs_from_files

    in_dir, out_dir, ckpt = dirs
    schema = "doc_id bigint, text string, ts timestamp"

    def mk(rows):
        return spark.createDataFrame(
            [(i, t, None) for i, t in rows], schema).withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")))

    mk([(1, "aaa"), (2, "bbb"), (3, "aaa")]).write.mode(
        "overwrite").parquet(in_dir)

    def run_once():
        stream = stream_docs_from_files(spark, in_dir, schema)
        q = (dedup_stream(stream).writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    got1 = {(r["text_md5"], r["doc_id"])
            for r in spark.read.parquet(out_dir).collect()}
    assert {d for _, d in got1} == {1, 2}   # first occurrence of each text

    # restart with re-sent "aaa" + new "ccc": only ccc emits
    mk([(10, "aaa"), (11, "ccc")]).write.mode("append").parquet(in_dir)
    run_once()
    got2 = {(r["text_md5"], r["doc_id"])
            for r in spark.read.parquet(out_dir).collect()}
    assert {d for _, d in got2} == {1, 2, 11}
    assert os.path.isdir(ckpt)


def test_stream_spatial_join_parity(spark, dirs):
    """spatial_join on a file stream (the stream-static join) produces
    exactly the batch spatial_join rows (stateless micro-batch
    execution)."""
    in_dir, out_dir, ckpt = dirs
    from gdal_spark.operators.spatial_join import spatial_join
    from gdal_spark.sources import fixtures as fx

    pts = _batch(spark, n=800)
    pts.write.mode("overwrite").parquet(in_dir)
    polys = spark.createDataFrame(fx.polygons_pandas())

    stream = stream_docs_from_files(spark, in_dir, SCHEMA)
    joined = spatial_join(stream, polys, dv.GRID, zoom=6, broadcast=True)
    q = (joined.writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = sorted((r["doc_id"], r["fid"]) for r in
                 spark.read.parquet(out_dir).collect())
    want_df = spatial_join(
        spark.read.parquet(in_dir), polys, dv.GRID, zoom=6)
    want = sorted((r["doc_id"], r["fid"]) for r in want_df.collect())
    assert got == want and len(got) > 0


def test_watermark_drops_late_events(spark, dirs):
    """Late-data semantics: an event older than (max event time -
    watermark) arriving in a later micro-batch is DROPPED by the
    watermark (withWatermark + update-mode groupBy), while an event
    inside the watermark is accepted — the engine's rendering of the
    reference pipeline's bounded-lateness contract."""
    in_dir, out_dir, ckpt = dirs
    base = 1700000000

    def _pts(ids_ts):
        return spark.createDataFrame(
            [(i, 5.0, 5.0) for i, _ in ids_ts],
            "doc_id long, x double, y double").join(
            spark.createDataFrame(ids_ts, "doc_id long, sec long"),
            "doc_id").select(
            "doc_id", "x", "y",
            F.timestamp_seconds(F.col("sec")).alias("ts"))

    # batch 1: events spread over ~3.3 h -> watermark = max - 2 h
    b1 = [(i, base + i * 120) for i in range(100)]
    _pts(b1).write.mode("overwrite").parquet(in_dir)
    stream = stream_docs_from_files(spark, in_dir, SCHEMA)
    agg = windowed_cell_counts(stream, dv.GRID, zoom=4,
                               window="1 hour", watermark="2 hours")
    write_stream_with_lineage(agg, out_dir, "r1", "w", ckpt) \
        .awaitTermination(120)

    # batch 2: one event far BEFORE the watermark (dropped) and one
    # inside it (kept)
    b2 = [(1000, base), (1001, base + 11000)]
    _pts(b2).write.mode("append").parquet(in_dir)
    stream2 = stream_docs_from_files(spark, in_dir, SCHEMA)
    agg2 = windowed_cell_counts(stream2, dv.GRID, zoom=4,
                                window="1 hour", watermark="2 hours")
    write_stream_with_lineage(agg2, out_dir, "r2", "w", ckpt) \
        .awaitTermination(120)

    rows = ln.read_stage(spark, out_dir).collect()
    latest = {}
    for r in rows:
        key = r["wstart"]
        latest[key] = max(latest.get(key, 0), r["n_docs"])
    import datetime as dt

    def wstart(sec):
        return dt.datetime.fromtimestamp(sec - sec % 3600)

    # first window keeps its batch-1 count: the late doc_id=1000 did
    # NOT bump it (epoch-hour-aligned window containing `base`)
    w0_end = base - base % 3600 + 3600
    want0 = sum(1 for _, sec in b1 if sec < w0_end)
    first_w = [v for k, v in latest.items() if k == wstart(base)]
    assert first_w and first_w[0] == want0
    # the in-watermark event landed in its window (base+11000 ~ 4th h)
    kept_w = [v for k, v in latest.items() if k == wstart(base + 11000)]
    assert kept_w and kept_w[0] >= 1
