"""Python workers fork from gdal_spark.worker_daemon: no archive-heavy
import path (no jar, pyspark from the unpacked tree), same PySpark,
pandas and pyarrow frozen in the permanent generation, per-task
garbage still collected, workers still reused across tasks."""

import os
from collections import Counter

import pyspark
from pyspark.find_spark_home import _find_spark_home

from gdal_spark.worker_daemon import worker_path


def _tree(root, with_pyspark: bool) -> str:
    py = root / "python"
    (py / "lib").mkdir(parents=True)
    (py / "lib" / "pyspark.zip").write_bytes(b"")
    if with_pyspark:
        (py / "pyspark").mkdir()
        (py / "pyspark" / "__init__.py").write_text("")
    return str(py)


def test_worker_path_swaps_zip_for_tree_and_drops_jars(tmp_path):
    py = _tree(tmp_path, with_pyspark=True)
    kept = ["", "/x/pyspark.zip.d", "/y/jar", "/z/gdal_spark.zip"]
    path = ["/work", f"{py}/lib/pyspark.zip", f"{py}/lib/py4j-src.zip",
            "/spark/jars/spark-core_2.13.jar", "/site-packages"] + kept
    assert worker_path(path) == ["/work", py, f"{py}/lib/py4j-src.zip",
                                 "/site-packages"] + kept


def test_worker_path_keeps_zip_without_unpacked_pyspark(tmp_path):
    py = _tree(tmp_path, with_pyspark=False)
    path = [f"{py}/lib/pyspark.zip", "/a/b.jar", "/c.jar", "/d"]
    assert worker_path(path) == [f"{py}/lib/pyspark.zip", "/d"]


def test_workers_run_from_daemon_path(spark):
    def report(batches):
        import os as _os
        import sys as _sys

        import pandas as pd
        import pyspark as _pyspark
        from pyspark import TaskContext

        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [_os.getpid()],
            "part": [TaskContext.get().partitionId()],
            "path": ["\n".join(_sys.path)],
            "file": [_pyspark.__file__],
            "version": [_pyspark.__version__],
        })

    rows = (spark.range(0, 64, numPartitions=32)
            .mapInPandas(report, "pid long, part int, path string, "
                                 "file string, version string")
            .collect())
    assert sorted(r.part for r in rows) == list(range(32))
    for r in rows:
        assert not [p for p in r.path.split("\n") if p.endswith(".jar")]
        assert r.version == pyspark.__version__
    init = os.path.join(_find_spark_home(), "python", "pyspark", "__init__.py")
    if os.path.isfile(init):
        for r in rows:
            assert os.path.realpath(r.file) == os.path.realpath(init)
    served = Counter(r.pid for r in rows)
    assert max(served.values()) >= 2, served


def test_session_names_daemon_and_its_import_root(spark):
    # the daemon starts before any --py-files reach the workers, so the
    # session must put this package's root on the workers' PYTHONPATH
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "gdal_spark.worker_daemon"
    root = conf.get("spark.executorEnv.PYTHONPATH")
    assert os.path.isfile(os.path.join(root, "gdal_spark", "worker_daemon.py"))


def _probe_rows(spark):
    """One row per task: the worker's pid, its frozen-object count, and
    how many of the reference cycles made by earlier tasks in this
    process are still alive.  Each task then leaves one new cycle
    behind (unreachable once the task returns)."""
    def probe(batches):
        import gc as _gc
        import os as _os
        import sys as _sys
        import weakref

        import pandas as pd

        class Node:
            pass

        earlier = _sys.__dict__.setdefault("_gdal_spark_cycle_probe", [])
        seen, alive = len(earlier), sum(r() is not None for r in earlier)
        for _ in batches:
            pass
        node = Node()
        node.self = node
        earlier.append(weakref.ref(node))
        del node
        yield pd.DataFrame({"pid": [_os.getpid()],
                            "frozen": [_gc.get_freeze_count()],
                            "seen": [seen], "alive": [alive]})

    return (spark.range(0, 64, numPartitions=32)
            .mapInPandas(probe, "pid long, frozen long, seen long, alive long")
            .collect())


def test_workers_inherit_frozen_pandas_and_pyarrow(spark):
    rows = _probe_rows(spark)
    assert len(rows) == 32
    # importing pandas and pyarrow leaves tens of thousands of container
    # objects; the daemon freezes them before it forks any worker
    assert min(r.frozen for r in rows) >= 20_000, sorted({r.frozen for r in rows})


def test_per_task_cycles_are_collected_in_frozen_workers(spark):
    rows = _probe_rows(spark)
    # the regime under test: workers forked from the frozen daemon
    assert min(r.frozen for r in rows) > 0
    # one pid serves several tasks, so earlier tasks' cycles are visible
    served = Counter(r.pid for r in rows)
    assert max(served.values()) >= 2, served
    assert sum(r.seen for r in rows) > 0
    # every cycle an earlier task left behind is gone before the next task
    # of the same worker starts: freezing leaks no per-task garbage
    assert [r for r in rows if r.alive] == []
