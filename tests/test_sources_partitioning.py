"""Ingest readers + Hilbert range partitioning."""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.kernels import wkb as kwkb
from gdal_spark.kernels.hilbert import hilbert_u32
from gdal_spark.operators.partitioning import (
    cell_histogram, choose_salt, repartition_by_hilbert, with_hilbert_key)
from gdal_spark.sources.readers import read_geojson, read_wkt_csv


@pytest.fixture()
def tmpd():
    d = tempfile.mkdtemp(prefix="src_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_read_wkt_csv(spark, tmpd):
    p = os.path.join(tmpd, "pts.csv")
    with open(p, "w") as f:
        f.write("name,wkt\n")
        f.write('a,POINT(1 2)\n')
        f.write('b,"POLYGON((0 0,4 0,4 3,0 3,0 0))"\n')
        f.write('c,"LINESTRING(0 0,3 4)"\n')
    df = read_wkt_csv(spark, p)
    rows = {r["name"]: r for r in df.collect()}
    assert rows["a"]["fid"] == 0 and rows["c"]["fid"] == 2
    assert kwkb.parse_wkb(bytes(rows["a"]["wkb"]))[0] == kwkb.POINT
    assert (rows["b"]["xmin"], rows["b"]["ymax"]) == (0.0, 3.0)
    assert rows["c"]["xmax"] == 3.0



def test_read_wkt_csv_multipolygon(spark, tmpd):
    """The CSV reader parses WKT with the same kernel as
    ST_GeomFromText, so MULTI geometries ingest too."""
    p = os.path.join(tmpd, "mp.csv")
    with open(p, "w") as f:
        f.write("name,wkt\n")
        f.write('m,"MULTIPOLYGON(((0 0,2 0,2 2,0 2,0 0)),'
                '((5 5,9 5,9 7,5 7,5 5),(6 6,7 6,7 6.5,6 6)))"\n')
    row = read_wkt_csv(spark, p).collect()[0]
    ring = lambda *xy: np.array(xy, dtype=np.float64)  # noqa: E731
    assert bytes(row["wkb"]) == kwkb.wkb_multipolygon([
        [ring((0, 0), (2, 0), (2, 2), (0, 2), (0, 0))],
        [ring((5, 5), (9, 5), (9, 7), (5, 7), (5, 5)),
         ring((6, 6), (7, 6), (7, 6.5), (6, 6))]])
    assert (row["xmin"], row["ymin"], row["xmax"], row["ymax"]) == (
        0.0, 0.0, 9.0, 7.0)

def test_read_geojson(spark, tmpd):
    p = os.path.join(tmpd, "fc.geojson")
    with open(p, "w") as f:
        f.write("""{"type":"FeatureCollection","features":[
          {"type":"Feature","properties":{"n":1},
           "geometry":{"type":"Point","coordinates":[5,6]}},
          {"type":"Feature","properties":{"n":2},
           "geometry":{"type":"Polygon",
             "coordinates":[[[0,0],[2,0],[2,2],[0,2],[0,0]]]}}
        ]}""")
    df = read_geojson(spark, p)
    rows = sorted(df.collect(), key=lambda r: r["fid"])
    assert len(rows) == 2
    assert kwkb.parse_wkb(bytes(rows[0]["wkb"]))[0] == kwkb.POINT
    assert rows[1]["xmax"] == 2.0


def test_hilbert_key_matches_kernel(spark):
    df = spark.range(200).select(
        (F.col("id") % 17 / 16.0).alias("x"),
        (F.col("id") % 13 / 12.0).alias("y"),
        F.col("id"),
    )
    keyed = with_hilbert_key(df).collect()
    for r in keyed:
        gx = min(65535, max(0, int(np.floor(65535.0 * r["x"]))))
        gy = min(65535, max(0, int(np.floor(65535.0 * r["y"]))))
        assert r["hkey"] == int(hilbert_u32(gx, gy))


def test_repartition_by_hilbert_ranges(spark):
    df = spark.range(4000).select(
        ((F.col("id") * 37 % 1000) / 1000.0).alias("x"),
        ((F.col("id") * 91 % 997) / 997.0).alias("y"),
    )
    parts = repartition_by_hilbert(df, 8)
    ranges = (
        parts.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").agg(F.min("hkey").alias("lo"), F.max("hkey").alias("hi"))
        .orderBy("lo").collect()
    )
    assert 2 <= len(ranges) <= 8
    # contiguous, non-overlapping key ranges == range partitioning
    for a, b in zip(ranges, ranges[1:]):
        assert a["hi"] <= b["lo"]


def test_choose_salt(spark):
    uniform = spark.range(1000).select((F.col("id") % 100).alias("cell"))
    assert choose_salt(uniform) == 0
    skewed = spark.range(1000).select(
        F.when(F.col("id") < 600, 7)
        .otherwise(F.col("id") % 100 + 100).alias("cell"))
    assert choose_salt(skewed) >= 2
    top = cell_histogram(skewed, top_k=1).collect()[0]
    assert top["cell"] == 7 and top["n"] == 600
