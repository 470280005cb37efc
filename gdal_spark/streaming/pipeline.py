"""Streaming doc-ingest pipeline: files -> cells -> windowed rollups.

Batch/stream parity is the design invariant: every transformation
here is the same Column expression the batch engine uses, so a query
validated against the DuckDB oracle in batch behaves identically on
the stream (Structured Streaming's incrementalization is Catalyst's
job, not ours).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import functions as gf
from ..kernels.cells import TileGrid


def stream_docs_from_files(spark: SparkSession, path: str,
                           schema: str) -> DataFrame:
    """File-source stream of parquet doc batches (exactly-once source
    tracking via the stream's checkpoint log)."""
    return spark.readStream.schema(schema).parquet(path)


def cell_stream(docs: DataFrame, grid: TileGrid, zoom: int,
                x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Attach cell + Hilbert-ready tile coords — identical Column math
    to the batch path (gdal_spark.functions)."""
    return docs.withColumn(
        "cell", gf.cell_col(grid, zoom, F.col(x_col), F.col(y_col)))


def windowed_cell_counts(docs: DataFrame, grid: TileGrid, zoom: int,
                         ts_col: str = "ts", window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time rollup of docs per cell with late-data
    watermarking — the streaming twin of the tiles groupBy."""
    enc = cell_stream(docs, grid, zoom)
    return (
        enc.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("cell"))
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "cell", "n_docs",
        )
    )


def write_stream_with_lineage(df: DataFrame, out_dir: str, run_id: str,
                              stage: str, checkpoint_dir: str,
                              trigger_available_now: bool = True):
    """foreachBatch sink through the lineage layer: each micro-batch
    is one commit unit keyed by batch id, so a restarted stream both
    (a) resumes its source offsets from the Structured Streaming
    checkpoint and (b) never double-applies a batch that already has
    a lineage row — end-to-end exactly-once output."""
    from ..operators import lineage as ln

    def _write(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        done = {
            r["unit"]
            for r in ln.committed_units(spark, out_dir, stage).collect()
        }
        if int(batch_id) in done:
            return
        ln.commit_unit(spark, out_dir, run_id, stage, int(batch_id),
                       batch_df, input_split=f"batch-{batch_id}")

    writer = (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update" if df.isStreaming else "append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(docs: DataFrame, text_col: str = "text",
                 watermark: str | None = None,
                 ts_col: str = "ts") -> DataFrame:
    """Streaming exact dedup: emit only the FIRST occurrence of each
    text digest across all micro-batches — a custom stateful operator
    on ``applyInPandasWithState`` (the engine's §2.10/§2.11 surface
    for state Spark's built-ins can't express).

    State is one boolean per digest group ("seen"), so state size is
    O(distinct digests); at 10^12 docs the key space shards across
    executors by the digest hash like any streaming aggregation.
    Emits (text_md5, doc_id, first_ts) for unseen digests only.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = docs.select(
        F.md5(F.col(text_col)).alias("text_md5"), "doc_id",
        F.col(ts_col).alias("first_ts"))
    if watermark:
        keyed = keyed.withWatermark("first_ts", watermark)

    def fn(key, pdfs, state):
        import pandas as pd

        if state.exists:
            for _ in pdfs:
                pass
            return iter(())
        first = None
        for pdf in pdfs:
            cand = pdf.sort_values(["first_ts", "doc_id"]).iloc[0]
            if first is None or (cand["first_ts"], cand["doc_id"]) < (
                    first["first_ts"], first["doc_id"]):
                first = cand
        state.update((True,))
        if first is None:
            return iter(())
        return iter([pd.DataFrame([{
            "text_md5": key[0],
            "doc_id": int(first["doc_id"]),
            "first_ts": first["first_ts"],
        }])])

    return keyed.groupBy("text_md5").applyInPandasWithState(
        fn,
        outputStructType="text_md5 string, doc_id bigint, first_ts timestamp",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

