"""The GeoJSON, GeoJSONSeq and WKT-CSV readers are Spark file scans:
building them submits no job, their plans hold no RDD scan, FIDs follow
the documented rule across splits and files, the JVM bbox equals the
WKB kernel's, and a session that reads all three keeps one Python
worker pool."""

from __future__ import annotations

import itertools
import json
import os
import textwrap

import pytest

from gdal_spark.kernels import wkb as kwkb
from gdal_spark.queries import QUERIES
from gdal_spark.sources.readers import (read_geojson, read_geojson_seq,
                                        read_wkt_csv)
from worker_pools import daemons_after

_GROUPS = itertools.count()
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow")


def _jobs_during(spark, fn):
    """(result of fn(), ids of the Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"reader-build-test-{next(_GROUPS)}"
    sc.setJobGroup(group, "reader build")
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()   # every job start lands
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


# the nodes of the multi-split numbering: per-split aggregate, prefix sum
_NUMBERING_NODES = ("HashAggregate", "Window")


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _feature(i: int, pad: int = 0) -> str:
    return json.dumps({
        "type": "Feature",
        "geometry": {"type": "Point", "coordinates": [float(i), -2.0 * i]},
        "properties": {"i": i, "pad": "x" * pad}})


def _write_seq(path, ids, pad=0):
    """One feature per line, with a leading RS marker on every third
    and a blank line after every fifth: neither takes a FID."""
    with open(path, "w") as fh:
        for k, i in enumerate(ids):
            fh.write(("\x1e" if k % 3 == 0 else "") + _feature(i, pad) + "\n")
            if k % 5 == 4:
                fh.write("\n")


def _write_fc(path, n):
    with open(path, "w") as fh:
        json.dump({"type": "FeatureCollection", "features": [
            json.loads(_feature(i)) for i in range(n)]}, fh)


def _write_csv(path, n):
    with open(path, "w") as fh:
        fh.write("name,wkt\n")
        for i in range(n):
            fh.write(f'n{i},"LINESTRING({i} 0,{i} 1)"\n')


@pytest.fixture()
def inputs(tmp_path):
    paths = {"seq": tmp_path / "a.geojsonl", "fc": tmp_path / "fc.geojson",
             "csv": tmp_path / "a.csv"}
    _write_seq(paths["seq"], range(12))
    _write_fc(paths["fc"], 5)
    _write_csv(paths["csv"], 7)
    return {k: str(v) for k, v in paths.items()}


def _readers(spark, inputs):
    return {"seq": lambda: read_geojson_seq(spark, inputs["seq"]),
            "fc": lambda: read_geojson(spark, inputs["fc"]),
            "csv": lambda: read_wkt_csv(spark, inputs["csv"])}


@pytest.fixture()
def small_splits(spark):
    """Files split every 2 KiB, so a few-KB file is read by several tasks."""
    key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "2048")
    yield
    spark.conf.unset(key)


def test_building_each_reader_submits_no_job(spark, inputs, tmp_path):
    for name, build in _readers(spark, inputs).items():
        df, jobs = _jobs_during(spark, build)
        assert jobs == [], name
        assert df.columns[-4:] == ["xmin", "ymin", "xmax", "ymax"]
    _, jobs = _jobs_during(
        spark, lambda: QUERIES["geojson_seq_scan"].fn(spark, str(tmp_path)))
    assert jobs == []


def test_geojson_seq_scan_runs_no_python(spark, tmp_path):
    plan = _executed_plan(QUERIES["geojson_seq_scan"].fn(spark, str(tmp_path)))
    assert "FileScan text" in plan
    assert not [n for n in _PYTHON_NODES if n in plan], plan


def test_geojson_seq_scan_executes_in_three_jobs(spark, tmp_path):
    """One file read by one split is numbered in the scan's own stage:
    no aggregate, window or broadcast beside the query's sort."""
    q = QUERIES["geojson_seq_scan"]
    _sink(q.fn(spark, str(tmp_path)))                    # warm
    df = q.fn(spark, str(tmp_path))
    _, jobs = _jobs_during(spark, lambda: _sink(df))
    assert 0 < len(jobs) <= 3, jobs
    plan = _executed_plan(df)
    assert not [n for n in _NUMBERING_NODES if n in plan], plan
    assert [r["fid"] for r in df.collect()] == list(range(40))


def test_single_split_fids_skip_blank_lines(spark, tmp_path):
    path = str(tmp_path / "one.geojsonl")
    _write_seq(path, range(12))
    assert spark.read.text(path)._jdf.rdd().getNumPartitions() == 1
    df = read_geojson_seq(spark, path)
    assert not [n for n in _NUMBERING_NODES if n in _executed_plan(df)]
    rows = sorted((r["fid"], r["xmin"]) for r in df.collect())
    assert rows == [(i, float(i)) for i in range(12)]


def test_reader_plans_scan_files_not_rdds(spark, inputs):
    for name, build in _readers(spark, inputs).items():
        plan = _executed_plan(build())
        assert "ExistingRDD" not in plan, (name, plan)
        assert "FileScan" in plan, (name, plan)


def test_seq_fids_are_byte_order_across_splits(spark, tmp_path, small_splits):
    path = str(tmp_path / "big.geojsonl")
    _write_seq(path, range(60), pad=40)
    assert os.path.getsize(path) > 3 * 2048
    assert spark.read.text(path)._jdf.rdd().getNumPartitions() >= 3
    df = read_geojson_seq(spark, path)
    plan = _executed_plan(df)
    assert all(n in plan for n in _NUMBERING_NODES), plan
    rows = sorted((r["fid"], r["xmin"]) for r in df.collect())
    assert rows == [(i, float(i)) for i in range(60)]


def test_seq_fids_follow_file_path_order(spark, tmp_path, small_splits):
    """Name order a < b < c, size order b > c > a: FIDs run through
    the files by path, each in byte order, whatever the split order."""
    d = tmp_path / "dir"
    d.mkdir()
    sizes = {"a": 3, "b": 50, "c": 10}
    start = 0
    for name, n in sizes.items():
        _write_seq(str(d / f"{name}.geojsonl"), range(start, start + n), pad=30)
        start += n
    df = read_geojson_seq(spark, str(d))
    rows = sorted((r["fid"], r["xmin"]) for r in df.collect())
    assert rows == [(i, float(i)) for i in range(start)]


def test_csv_fids_follow_row_order_across_splits(spark, tmp_path, small_splits):
    path = str(tmp_path / "rows.csv")
    _write_csv(path, 300)
    df = read_wkt_csv(spark, path)
    assert df.columns == ["name", "fid", "wkb", "xmin", "ymin", "xmax", "ymax"]
    assert spark.read.csv(path)._jdf.rdd().getNumPartitions() >= 3
    assert all(n in _executed_plan(df) for n in _NUMBERING_NODES)
    rows = sorted((r["fid"], r["name"], r["xmin"]) for r in df.collect())
    assert rows == [(i, f"n{i}", float(i)) for i in range(300)]


def test_gzipped_csv_header_is_read_without_a_job(spark, tmp_path):
    """The header is parsed as CSV (a quoted, dotted name) from the
    decompressed first line."""
    import gzip

    packed = tmp_path / "rows.csv.gz"
    packed.write_bytes(gzip.compress(b'"road.name",wkt\n' + b"".join(
        b'n%d,"POINT(%d 0)"\n' % (i, i) for i in range(4))))
    df, jobs = _jobs_during(spark, lambda: read_wkt_csv(spark, str(packed)))
    assert jobs == []
    assert df.columns[:2] == ["road.name", "fid"]
    assert sorted((r["fid"], r["road.name"], r["xmin"]) for r in df.collect()) == [
        (i, f"n{i}", float(i)) for i in range(4)]


def test_csv_refuses_dropmalformed(spark, inputs):
    """DROPMALFORMED drops rows by the columns a scan parses, so the
    two scans of the numbering could see different rows."""
    with pytest.raises(ValueError, match="DROPMALFORMED"):
        read_wkt_csv(spark, inputs["csv"], mode="dropMalformed")


def test_feature_collection_fid_is_feature_position(spark, tmp_path):
    _write_fc(tmp_path / "one.geojson", 6)
    _write_fc(tmp_path / "two.geojson", 3)
    rows = sorted((r["fid"], r["xmin"], json.loads(r["props"])["i"])
                  for r in read_geojson(spark, str(tmp_path)).collect())
    assert rows == sorted([(i, float(i), i) for i in range(6)]
                          + [(i, float(i), i) for i in range(3)])


_GEOMETRIES = [
    '{"type": "Point", "coordinates": [1e-3, -0.0]}',
    '{"type": "Point", "coordinates": [-12.5, 3E2, 7]}',
    '{"type": "LineString", "coordinates": [[-1, 2.5e1], [3, -4E-2], [0.5, 0]]}',
    '{"type": "LineString", "coordinates": [[1, 2, 3], [-4, 5, -6]]}',
    '{"type": "Polygon", "coordinates": [[[-10, -10], [10, -10], [10, 1e1],'
    ' [-10, 10], [-10, -10]], [[-1, -1], [1, -1], [1, 1], [-1, -1]]]}',
    '{"type": "Polygon", "coordinates": [[[0, 0, 1], [-2.5, 0, 1],'
    ' [-2.5, -0.0, 1], [0, 0, 1]]]}',
]


def test_jvm_bbox_equals_wkb_bbox(spark, tmp_path):
    seq = tmp_path / "g.geojsonl"
    with open(seq, "w") as fh:
        for g in _GEOMETRIES:
            fh.write('{"type": "Feature", "properties": {}, "geometry": %s}\n' % g)
    fc = tmp_path / "g.geojson"
    with open(fc, "w") as fh:
        fh.write('{"type": "FeatureCollection", "features": [%s]}' % ", ".join(
            '{"type": "Feature", "properties": null, "geometry": %s}' % g
            for g in _GEOMETRIES))
    for df in (read_geojson_seq(spark, str(seq)), read_geojson(spark, str(fc))):
        rows = sorted(df.collect(), key=lambda r: r["fid"])
        assert len(rows) == len(_GEOMETRIES)
        for r in rows:
            bbox = (r["xmin"], r["ymin"], r["xmax"], r["ymax"])
            assert bbox == kwkb.wkb_bbox(bytes(r["wkb"])), r["fid"]
        assert rows[1]["xmin"] == -12.5
        assert kwkb.parse_wkb_full(bytes(rows[3]["wkb"]))[1]   # 3-D: has Z


def test_repeated_reads_leave_no_cached_blocks(spark, inputs):
    """Data that earlier tests cached is released first: Spark may drop
    its blocks during the loop, which says nothing about the readers."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    jsc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in jsc.getRDDStorageInfo()}
    for _ in range(20):
        for build in _readers(spark, inputs).values():
            build().count()
    assert {i.id() for i in jsc.getRDDStorageInfo()} == before


_ONE_POOL = textwrap.dedent('''
    import json, sys
    from gdal_spark.session import get_spark
    from gdal_spark.sources.readers import (read_geojson, read_geojson_seq,
                                            read_wkt_csv)
    from worker_pools import python_daemons

    spark = get_spark(app_name="one-pool", cores=2, shuffle_partitions=2)
    seq, fc, csv = sys.argv[1:4]
    for df in (read_geojson_seq(spark, seq), read_geojson(spark, fc),
               read_wkt_csv(spark, csv)):
        df.collect()
    spark.range(8).mapInArrow(lambda it: it, "id long").collect()
    print("DAEMONS", json.dumps(python_daemons(spark)))
    spark.stop()
''')


def test_session_keeps_one_python_worker_pool(inputs):
    """RDD-API Python starts a second worker daemon beside the one that
    serves Arrow UDFs; reading the three formats must not."""
    [daemons] = daemons_after(_ONE_POOL, inputs["seq"], inputs["fc"],
                              inputs["csv"])
    assert len(daemons) == 1, daemons


def test_csv_and_seq_readers_agree_on_empty_geometries(spark, tmp_path):
    """One rule for EMPTY on both paths: EMPTY WKB and a NULL bbox."""
    wkts = ["POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY", "POINT (1 -2)"]
    geoms = [{"type": "Point", "coordinates": []},
             {"type": "LineString", "coordinates": []},
             {"type": "Polygon", "coordinates": []},
             {"type": "Point", "coordinates": [1, -2]}]
    csv_path, seq_path = tmp_path / "e.csv", tmp_path / "e.geojsonl"
    csv_path.write_text("name,wkt\n" + "".join(
        f'n{i},"{w}"\n' for i, w in enumerate(wkts)))
    seq_path.write_text("".join(json.dumps(
        {"type": "Feature", "properties": {}, "geometry": g}) + "\n"
        for g in geoms))
    cols = ["fid", "wkb", "xmin", "ymin", "xmax", "ymax"]
    got = [sorted(tuple(r) for r in df.select(*cols).collect())
           for df in (read_wkt_csv(spark, str(csv_path)),
                      read_geojson_seq(spark, str(seq_path)))]
    assert [r[1:] for r in got[0]] == [r[1:] for r in got[1]]
    assert [r[0] for r in got[0]] == [0, 1, 2, 3]
    for fid, wkb, *bbox in got[0]:
        want = kwkb.wkb_bbox(bytes(wkb))
        assert bbox == (list(want) if want else [None] * 4), fid
    assert [r[2] for r in got[0]] == [None, None, None, 1.0]
