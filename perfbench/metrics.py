"""Metric names, units and directions.  BENCHMARK.json lists the same
metrics (perfbench/tests check that the two agree)."""

from __future__ import annotations

# The workloads BENCHMARK.json lists.  tile_pipeline runs by hand only:
# at 40-70 s per run it does not fit the suite's time budget of about
# 35 s per run on a busy 4-vCPU VM.
WORKLOADS = ("bulk_join", "media_decode", "query_mix")
ALL_WORKLOADS = WORKLOADS + ("tile_pipeline",)

# End-to-end metrics, reported by every untraced run.  Times are CPU
# seconds of the Python driver, the JVM and its Python workers: on a
# shared VM the wall clock of the same run swings by up to 2x with the
# neighbours' load, the CPU time by far less (see README.md).
END_TO_END = {
    "setup_s": ("s", "lower"),
    "items_per_cpu_s": ("1/cpu-s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

# Wall-clock throughput (items / s of a timed op, in the detail file)
# under the name each workload's unit of work gives it.
ITEM_ALIASES = {
    "bulk_join": ("join_docs_per_s", "docs/s"),
    "tile_pipeline": ("tile_docs_per_s", "docs/s"),
    "media_decode": ("decode_items_per_s", "items/s"),
    "query_mix": ("mix_queries_per_s", "queries/s"),
}

# Queries of the query_mix workload (catalog names).
MIX = ("pip_join", "dialect_spatial_join", "tpch_q3ish", "geojson_seq_scan")

_SPARK = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.python_run_s": "s", "spark.python_init_s": "s",
    "spark.arrow_to_python_bytes": "bytes",
    "spark.arrow_from_python_bytes": "bytes",
    "spark.shuffle_records": "count", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.driver_gap_s": "s",
    "spark.trace_overhead": "ratio",
}

# Per-layer metrics, reported by every traced run; a layer a workload
# does not touch reports 0.  A traced tile_pipeline run also writes
# raster_tile.* and lineage.* to its detail file.
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "sources.input_gen_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "functions.cell_encode_s": "s",
    "spatial_join.s": "s",
    "spatial_join.phase1_s": "s",
    "spatial_join.candidates": "count",
    "spatial_join.matches": "count",
    "spatial_join.hit_ratio": "ratio",
    "spatial_join.prepare_edges_s": "s",
    "spatial_join.scaling_eff": "ratio",
    "multimodal.decode_s": "s",
    "multimodal.frame_sample_s": "s",
    "multimodal.payload_bytes": "bytes",
    "kernels.jpeg_per_s": "1/s",
    "kernels.png_per_s": "1/s",
    "kernels.bmp_per_s": "1/s",
    "kernels.wav_per_s": "1/s",
    "kernels.avi_frames_per_s": "1/s",
    "kernels.rasterize_tile_s": "s",
    "kernels.checksum_mpx_per_s": "1/s",
    "kernels.wkb_per_s": "1/s",
    "sql.ogr_sql_s": "s",
    **{f"queries.{q}.{part}_s": "s" for q in MIX for part in ("plan", "exec")},
    "queries.cold_pass_s": "s",
    **_SPARK,
}

