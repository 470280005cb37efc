"""Seeded end-to-end benchmark of the gdal_spark engine.

Run from the repository root::

    python3 perfbench/run.py --workload bulk_join --seed 1 --seconds 5 --trace 0

See perfbench/README.md for the workloads, metrics and layer map.
"""
