"""Spark jobs, stages and tasks per catalog query, warm.

Each query is built and written to the noop sink once untimed (the
cold pass: schema memos, JIT, worker start), then built and written
again under two job groups, one for the build and one for the
execution.  One JSON line per query:

    {"query": "pip_join", "build": {"jobs": 0, "stages": 0, "tasks": 0},
     "exec": {"jobs": 4, "stages": 4, "tasks": 7}}

A stage counts when it ran (a stage whose shuffle output was reused is
skipped and not counted); tasks are the tasks of those stages.

    python scripts/jobs.py [query ...]       # default: every query
    SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=4 python scripts/jobs.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def counted(spark, group: str, fn):
    """(fn(), {"jobs", "stages", "tasks"} of the Spark work fn submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()   # job and stage events land
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for sid in {s for j in jobs for s in tracker.getJobInfo(j).stageIds}:
        info = tracker.getStageInfo(sid)
        ran = 0 if info is None else info.numCompletedTasks + info.numFailedTasks
        if ran:
            stages += 1
            tasks += ran
    return out, {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = sys.argv[1:]

    from gdal_spark.queries import QUERIES
    from gdal_spark.session import get_spark

    unknown = [n for n in only if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark("jobs", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    spark.sparkContext.setLogLevel("ERROR")

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    failed = 0
    for name in dict.fromkeys(only or QUERIES):    # each query once
        q = QUERIES[name]
        try:
            sink(q.fn(spark, sf_dir))
            df, build = counted(spark, f"jobs:{name}:build",
                                lambda: q.fn(spark, sf_dir))
            _, run = counted(spark, f"jobs:{name}:exec", lambda: sink(df))
            rec = {"query": name, "build": build, "exec": run}
        except Exception as exc:  # one failing query does not end the pass
            failed += 1
            rec = {"query": name, "error": f"{type(exc).__name__}: {exc}"[:300]}
        print(json.dumps(rec), flush=True)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
