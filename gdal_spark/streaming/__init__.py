"""Structured Streaming surface of the engine.

The reference has no streaming engine — its streaming-shaped
machinery is pull-based incremental iteration + resumable tile jobs
(SURVEY §2.10).  The Spark-native rendering: document streams flow
through the SAME Column-level operators (cell encode, Hilbert keys,
quality metrics) under ``readStream``, with event-time windows +
watermarks for late data, and ``foreachBatch`` writing through the
lineage layer so a restarted stream resumes exactly (the streaming
twin of ``gdal raster tile --resume``).
"""

from .pipeline import (
    cell_stream,
    dedup_stream,
    stream_docs_from_files,
    windowed_cell_counts,
    write_stream_with_lineage,
)

__all__ = [
    "dedup_stream",
    "stream_docs_from_files",
    "cell_stream",
    "windowed_cell_counts",
    "write_stream_with_lineage",
]
