"""Two-parallelism-level scaling evidence (north rule).

Runs one throughput job at local[lo] and local[hi] in separate JVMs
(subprocesses) on the SAME input and prints one JSON line: both runs,
``speedup``, ``core_ratio`` and ``scaling_efficiency``
(= speedup / core ratio).

    python scripts/scaling.py --job {join,tin,media} [--n N] [--lo L] [--hi H]

Jobs (defaults in brackets):
  join   spatial join of N derived doc points x the 10-polygon fixture
         layer, noop sink, min of 3 after a warm-up [4M docs, 8 -> 32]
  tin    certified tiled Delaunay of N xxhash64-derived points, Euler
         certificate on, min of 2 after a warm-up [100k points, 2 -> 8]
  media  AVI decode + frame sampling of N synthesized videos, noop
         sink, one pass [200k videos, 2 -> 8]

``--cores C`` runs the job once in this process at local[C] and prints
that run's JSON line (how the launcher invokes itself).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _join(cores: int, n: int) -> tuple[float, dict]:
    from pyspark.sql import functions as F

    from gdal_spark.operators.spatial_join import spatial_join
    from gdal_spark.queries import _derive as dv
    from gdal_spark.session import get_spark
    from gdal_spark.sources import fixtures as fx

    spark = get_spark("scaling", cores=cores,
                      shuffle_partitions=max(cores, 8))
    spark.sparkContext.setLogLevel("ERROR")

    x, y = dv.point_cols(F.col("doc_id"))
    pts = (
        spark.range(n)
        .select(F.col("id").alias("doc_id"))
        .withColumn("x", x).withColumn("y", y)
        # fixed partition count: identical plan + data layout at every
        # parallelism level, so the comparison isolates the core count
        .repartition(64)
        .persist()
    )
    pts.count()  # materialize input outside the timed window

    polys = spark.createDataFrame(fx.polygons_pandas())

    # warm-up pass: spawn+import the Python workers once (cold-start
    # is per-executor setup cost, amortized to zero in a long job)
    spatial_join(pts, polys, dv.GRID, zoom=6, how="inner").write.mode(
        "overwrite").format("noop").save()

    # min of 3 repeats: steady-state throughput, robust to the
    # sandbox VM's bursty scheduling
    wall = float("inf")
    for _ in range(3):
        t0 = time.time()
        out = spatial_join(pts, polys, dv.GRID, zoom=6, how="inner")
        out.write.mode("overwrite").format("noop").save()
        wall = min(wall, time.time() - t0)
    return wall, {}


def _tin(cores: int, n: int) -> tuple[float, dict]:
    from pyspark.sql import functions as F

    from gdal_spark.operators.delaunay_dist import delaunay_tiled
    from gdal_spark.session import get_spark

    target, repeats = 1000, 2
    # fixed 64 shuffle partitions at EVERY core count: the tile stage
    # is compute-dense (one local TIN per tile), so partition count
    # must exceed tile count for balance — and must be identical at
    # both parallelism levels so the comparison isolates cores
    spark = get_spark("tin_scaling", cores=cores, shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic general-position layout: two independent xxhash64
    # streams folded to 40-bit fractions — identical doubles at every
    # core count, collision probability ~n^2/2^41 (negligible at the
    # point counts this job runs), no lattice structure
    m = (1 << 40) - 1
    frac_x = (F.xxhash64(F.col("id"), F.lit(0)).bitwiseAND(F.lit(m))
              .cast("double") / F.lit(float(1 << 40)))
    frac_y = (F.xxhash64(F.col("id"), F.lit(1)).bitwiseAND(F.lit(m))
              .cast("double") / F.lit(float(1 << 40)))
    pts = (
        spark.range(n)
        .select(F.col("id").alias("pid"),
                (frac_x * 1000.0).alias("x"),
                (frac_y * 1000.0).alias("y"))
        .repartition(64)
        .persist()
    )
    pts.count()  # materialize input outside the timed window

    # warm-up pass: spawn+import the Python workers once
    delaunay_tiled(pts, target_per_tile=target, verify=True).count()

    wall, facets, phases = float("inf"), 0, {}
    for _ in range(repeats):
        t = {}
        t0 = time.time()
        facets = delaunay_tiled(
            pts, target_per_tile=target, verify=True, timings=t).count()
        dt = time.time() - t0
        if dt < wall:
            wall, phases = dt, t
    return wall, {
        "facets": facets,
        "phases": {k: (round(v, 3) if isinstance(v, float) else v)
                   for k, v in phases.items()},
    }


def _media(cores: int, n: int) -> tuple[float, dict]:
    from pyspark.sql import functions as F

    from gdal_spark.operators import multimodal as mm
    from gdal_spark.session import get_spark

    spark = get_spark("media-scaling", cores=cores,
                      shuffle_partitions=max(cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    docs = (spark.range(n).select(F.col("id").alias("doc_id"))
            .repartition(64))
    # decode happens where the container bytes land (mapInPandas, no
    # shuffle after synthesis): the job is embarrassingly parallel
    t0 = time.time()
    out = mm.frame_sample_real(mm.synth_avi_col_rows(docs), stride=2)
    out.write.mode("overwrite").format("noop").save()
    return time.time() - t0, {}


# job -> (body, default n, default lo, default hi)
JOBS = {
    "join": (_join, 4_000_000, 8, 32),
    "tin": (_tin, 100_000, 2, 8),
    "media": (_media, 200_000, 2, 8),
}


def run_once(job: str, cores: int, n: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--job", job,
         "--n", str(n), "--cores", str(cores)],
        capture_output=True, text=True, cwd=REPO,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode or not lines:
        raise RuntimeError(
            f"{job} job at {cores} cores failed (exit {out.returncode}); "
            f"stderr tail: {out.stderr[-500:]}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", choices=sorted(JOBS), required=True)
    ap.add_argument("--n", type=int)
    ap.add_argument("--lo", type=int)
    ap.add_argument("--hi", type=int)
    ap.add_argument("--cores", type=int)
    args = ap.parse_args()
    body, n, lo, hi = JOBS[args.job]
    n = args.n or n

    if args.cores:
        wall, extra = body(args.cores, n)
        print(json.dumps({"cores": args.cores, "n": n,
                          "wall_sec": round(wall, 3),
                          "items_per_sec": round(n / wall, 1), **extra}))
        return

    lo, hi = args.lo or lo, args.hi or hi
    r_lo = run_once(args.job, lo, n)
    r_hi = run_once(args.job, hi, n)
    speedup = r_lo["wall_sec"] / r_hi["wall_sec"]
    print(json.dumps({
        "job": args.job, "n": n, "lo": r_lo, "hi": r_hi,
        "speedup": round(speedup, 3),
        "core_ratio": hi / lo,
        "scaling_efficiency": round(speedup * lo / hi, 3),
    }))


if __name__ == "__main__":
    main()
