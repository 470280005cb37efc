"""Python worker daemon with no large archives on its import path.

Spark starts ``python -m <spark.python.daemon.module>`` once per
executor and forks every Python worker from it, so the workers inherit
this module's ``sys.path``.  PySpark's per-task ``setup_spark_files``
calls ``importlib.invalidate_caches()``, which makes every cached
zipimporter re-read its archive's central directory: pyspark.zip
(about 1,300 entries) and the spark-core jar (about 5,400 entries, no
Python) once per package imported from them, on every task.  The
daemon drops the jar and swaps pyspark.zip for the unpacked
``$SPARK_HOME/python`` tree (same files) before importing
``pyspark.daemon``; everything else about the daemon is PySpark's.
"""

import os
import sys


def worker_path(path: list[str]) -> list[str]:
    """``path`` without ``.jar`` entries, with ``<dir>/lib/pyspark.zip``
    replaced by ``<dir>`` when that tree holds ``pyspark/__init__.py``."""
    out = []
    for p in path:
        if p.endswith(".jar"):
            continue
        if os.path.basename(p) == "pyspark.zip":
            tree = os.path.dirname(os.path.dirname(p))
            if os.path.isfile(os.path.join(tree, "pyspark", "__init__.py")):
                p = tree
        out.append(p)
    return out


if __name__ == "__main__":
    sys.path[:] = worker_path(sys.path)
    sys.path_importer_cache.clear()
    from pyspark.daemon import manager

    manager()
