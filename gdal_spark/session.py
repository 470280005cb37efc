"""SparkSession factory with engine-tuned defaults.

Scale posture (100 TB / 1000-executor design, local[N] test harness):
AQE on (runtime re-plan + skew-join splitting), Arrow on (every
pandas UDF boundary is Arrow-batched), small default advisory
partition sizes appropriate for the sandbox but overridable via env.

Python workers fork from ``gdal_spark.worker_daemon`` rather than
``pyspark.daemon``.  PySpark calls ``importlib.invalidate_caches()`` at
the start of every task, which makes each zipimporter on the workers'
path re-read its archive's whole directory (pyspark.zip and the
spark-core jar, 16 times a task); that daemon puts no large archive on
the path.  It also imports pandas and pyarrow and calls ``gc.freeze()``
before forking, so the full ``gc.collect()`` PySpark runs after every
task walks only what the task made, not the ~73k objects every Arrow
worker imports.  ``spark.executorEnv.PYTHONPATH`` names the directory
(or ``--py-files`` zip) holding this package, so the daemon imports
from any working directory.

DataFrame debugging is off (``spark.python.sql.dataFrameDebugging.enabled
=false``).  With it on, PySpark wraps every Column and ``F.*`` call in a
call-site capture: a Python stack walk plus an active-session lookup,
a conf read and a set/clear of the JVM's ``PySparkCurrentOrigin``, each
a py4j round trip, so building one spatial-join query cost ~1,170
gateway commands instead of ~420.  Results do not change; an ANSI error's
DataFrame query context just carries no PySpark call site.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "gdal_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # This engine's shuffle stages carry compute fan-out far out
        # of proportion to their byte size: a few MB of minhash/simhash
        # signatures expand to 10^8 candidate pairs inside the
        # following self-join stage, and a few MB of WKB drives heavy
        # geometry kernels.  AQE's coalescing is shuffle-BYTE-based
        # (default floor 1 MB/partition), which folded those stages to
        # 2-3 tasks at the sf1 rehearsal (observed: simhash_pairs'
        # candidate aggregate spilling for minutes on 2 tasks while 30
        # cores idled).  Lower the floor so parallelism-first sizing
        # keeps fan-out stages wide; at real 100 TB scale shuffles are
        # GBs and this floor never binds.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "gdal_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
