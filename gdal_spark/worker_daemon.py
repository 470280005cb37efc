"""Python worker daemon with no large archives on its import path, and
with pandas and pyarrow imported and frozen before the first fork.

Spark starts ``python -m <spark.python.daemon.module>`` once per
executor and forks every Python worker from it, so the workers inherit
this module's ``sys.path`` and its heap.

Import path.  PySpark's per-task ``setup_spark_files`` calls
``importlib.invalidate_caches()``, which makes every cached
zipimporter re-read its archive's central directory: pyspark.zip
(about 1,300 entries) and the spark-core jar (about 5,400 entries, no
Python) once per package imported from them, on every task.  The
daemon drops the jar and swaps pyspark.zip for the unpacked
``$SPARK_HOME/python`` tree (same files) before importing
``pyspark.daemon``.

Frozen heap.  A reused worker runs a full ``gc.collect()`` after every
task (``pyspark/daemon.py``), and the generation-2 collections inside a
task do the same walk.  Every Arrow worker imports pandas and pyarrow,
which adds ~34k container objects to PySpark's own ~39k for each of
those walks: about 24 ms of a trivial task's 26 ms of worker CPU (one
8-partition ``mapInArrow``, 4-vCPU host).  The daemon imports both and
calls ``gc.freeze()`` just before it starts forking (CPython's
documented pre-fork pattern), so the workers inherit those ~73k objects
in the permanent generation.  The per-task collections then walk only
what the task made; per-task garbage, cycles included, is still
collected.  Collections no longer write the frozen objects' gc
headers, so fewer of the pages the workers share with the daemon are
copied on write.  The daemon imports nothing from this package: the
``--py-files`` launch path stays independent of it.  Everything else
about the daemon is PySpark's.
"""

import gc
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
    import pandas  # noqa: F401  (imported by every Arrow worker anyway)
    import pyarrow  # noqa: F401
    from pyspark.daemon import manager

    gc.freeze()
    manager()
