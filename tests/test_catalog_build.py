"""Cheap catalog query building: ``queries.t`` infers each table's
schema once per file version, and ``get_spark`` turns off PySpark's
per-Column call-site capture (several py4j round trips per ``F.*`` call)."""

from __future__ import annotations

import itertools

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gdal_spark.queries import QUERIES, t

_GROUPS = itertools.count()


def _jobs_during(spark, fn):
    """(result of fn(), ids of the Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"catalog-build-test-{next(_GROUPS)}"
    sc.setJobGroup(group, "t() memo")
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()   # every job start lands
        return out, sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_second_read_of_unchanged_table_submits_no_job(spark, tmp_path):
    _write(tmp_path / "orders.parquet", o_orderkey=[1, 2, 3], o_custkey=[7, 7, 8])
    first, jobs = _jobs_during(spark, lambda: t(spark, str(tmp_path), "orders"))
    assert jobs, "schema inference ran no job: the check below shows nothing"
    second, jobs = _jobs_during(spark, lambda: t(spark, str(tmp_path), "orders"))
    assert jobs == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    _write(tmp_path / "tab.parquet", a=[1, 2])
    assert t(spark, str(tmp_path), "tab").columns == ["a"]
    _write(tmp_path / "tab.parquet", b=["x", "y", "z"], c=[1.5, 2.5, 3.5])
    df = t(spark, str(tmp_path), "tab")
    assert df.columns == ["b", "c"]
    assert sorted(df.collect()) == [("x", 1.5), ("y", 2.5), ("z", 3.5)]


def test_directory_table_misses_when_a_part_file_changes(spark, tmp_path):
    d = tmp_path / "parts.parquet"
    d.mkdir()
    _write(d / "part-0.parquet", k=[1])
    assert t(spark, str(tmp_path), "parts").count() == 1
    _write(d / "part-1.parquet", k=[2, 3])
    df, jobs = _jobs_during(spark, lambda: t(spark, str(tmp_path), "parts"))
    assert jobs, "a new part file must be inferred again"
    assert df.count() == 3


def test_self_join_of_two_reads_matches_pandas(spark, tmp_path):
    orders = pd.DataFrame({"o_orderkey": range(40),
                           "o_custkey": [i * 7 % 9 for i in range(40)]})
    orders.to_parquet(tmp_path / "orders.parquet", index=False)
    t(spark, str(tmp_path), "orders")          # memoize the schema
    a = t(spark, str(tmp_path), "orders").alias("a")
    b = t(spark, str(tmp_path), "orders").alias("b")
    got = sorted(tuple(r) for r in a.join(b, F.col("a.o_custkey") == F.col("b.o_custkey"))
                 .select(F.col("a.o_orderkey"), F.col("b.o_orderkey")).collect())
    m = orders.merge(orders, on="o_custkey")
    want = sorted(zip(m["o_orderkey_x"], m["o_orderkey_y"]))
    assert got == want
    assert len(got) == sum(n * n for n in orders["o_custkey"].value_counts())


def test_sessions_skip_call_site_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_pip_join_build_py4j_budget(spark, tmp_path):
    """Building ``pip_join`` (warm) sends ~420 py4j commands; with the
    call-site capture on it sends ~1,170.  Memory commands (proxies
    released by the garbage collector, at times it chooses) are not
    counted."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    _write(tmp_path / "documents.parquet", doc_id=list(range(2000)))
    QUERIES["pip_join"].fn(spark, str(tmp_path))
    client.send_command = counting
    try:
        QUERIES["pip_join"].fn(spark, str(tmp_path))
    finally:
        client.send_command = send
    assert 0 < len(sent) <= 600, len(sent)


def _executed(spark, tmp_path, name):
    """(Spark jobs of a warm run of catalog query ``name`` over 2,000
    documents, its executed plan)."""
    _write(tmp_path / "documents.parquet", doc_id=list(range(2000)))
    q = QUERIES[name]
    _sink(q.fn(spark, str(tmp_path)))                    # warm
    df = q.fn(spark, str(tmp_path))
    _, jobs = _jobs_during(spark, lambda: _sink(df))
    return jobs, df._jdf.queryExecution().executedPlan().toString()


def _assert_local_cover_broadcast(plan):
    """No Python node runs, and the broadcast side is the driver-built
    cover (``cell`` .. ``inside`` rows), not the points' file scan."""
    assert not any(node in plan for node in ("MapInArrow", "MapInPandas", "Python")), plan
    [join] = [line for line in plan.splitlines() if "BroadcastHashJoin" in line]
    assert "BuildRight" in join, plan
    build = plan[plan.index("BroadcastExchange"):]
    assert "LocalTableScan [cell#" in build and "inside#" in build, plan
    assert "FileScan" not in build, plan


def test_pip_join_executes_in_four_jobs(spark, tmp_path):
    """The cell cover carries the polygon attributes, so the join
    broadcasts the polygon side once: no second broadcast by fid.  The
    layer is local, so the cover is built on the driver."""
    jobs, plan = _executed(spark, tmp_path, "pip_join")
    assert 0 < len(jobs) <= 4, jobs
    assert plan.count("BroadcastHashJoin") == 1, plan
    _assert_local_cover_broadcast(plan)


def test_dialect_spatial_join_executes_in_four_jobs(spark, tmp_path):
    """The rewrite reads the local layer's extent on the driver and
    joins to its driver-built, salted cover, broadcast once."""
    jobs, plan = _executed(spark, tmp_path, "dialect_spatial_join")
    assert 0 < len(jobs) <= 4, jobs
    _assert_local_cover_broadcast(plan)


def test_pip_join_s2_executes_in_four_jobs(spark, tmp_path):
    """The S2 join builds its cover with the quadtree's ``cell_cover``:
    one Arrow map carrying edges and attributes, broadcast once."""
    jobs, plan = _executed(spark, tmp_path, "pip_join_s2")
    assert 0 < len(jobs) <= 4, jobs
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "MapInPandas" not in plan, plan


@pytest.mark.parametrize("name, most", [("focal_hillshade", 5),
                                        ("fill_nodata", 5),
                                        ("point_sample_bilinear", 7)])
def test_halo_queries_execute_within_their_jobs(spark, tmp_path, name, most):
    """The halo exchange is one Python map and one grouped Python stage
    (``operators.focal.halo_apply``); point sampling adds the points'
    side and the cogroup."""
    jobs, _ = _executed(spark, tmp_path, name)
    assert 0 < len(jobs) <= most, jobs


def test_dialect_join_over_a_local_layer_builds_without_a_job(spark, tmp_path):
    """The grid comes from the polygon layer's extent; a local layer's
    extent is read on the driver, not by an aggregate job."""
    _write(tmp_path / "documents.parquet", doc_id=list(range(2000)))
    q = QUERIES["dialect_spatial_join"]
    q.fn(spark, str(tmp_path))                           # warm
    df, jobs = _jobs_during(spark, lambda: q.fn(spark, str(tmp_path)))
    assert jobs == []
    assert df.count() > 0
