"""Distributed sieve filter + raster footprint.

Sieve (GDALSieveFilter, /root/reference/alg/gdalsievefilter.cpp:178)
distributes as: global CC labels (the polygonize machinery), comp
sizes + comp adjacency from runs, then simultaneous merge rounds —
every small component adopts the value of its largest neighbor
(size desc, comp asc ties) — iterated to fixpoint, exactly the
kernels.sieve semantics (tile-split invariant, tests assert).

Footprint (gdal_footprint, /root/reference/apps/
gdal_footprint_lib.cpp:1268) = polygonize of the validity mask:
binarize tiles (px != nodata), run the distributed polygonizer, emit
the valid-data polygons.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .polygonize import (
    assemble_polygons, equivalence_edges, global_labels, tile_runs)


def _pixels(runs: DataFrame) -> DataFrame:
    """Explode runs to pixels (JVM sequence) for adjacency building."""
    return runs.select(
        "node", "value", "gy",
        F.explode(F.sequence("gx0", "gx1")).alias("gx"))


def _comp_adjacency(runs: DataFrame, comp: DataFrame) -> DataFrame:
    """Distinct 4-adjacent (comp_a, comp_b) pairs, any values."""
    px = _pixels(runs).join(comp, "node").select("comp", "gy", "gx")
    right = px.select(
        (F.col("gx") - 1).alias("gx"), F.col("gy"),
        F.col("comp").alias("comp_b"))
    down = px.select(
        F.col("gx"), (F.col("gy") - 1).alias("gy"),
        F.col("comp").alias("comp_b"))
    h = px.join(right, ["gx", "gy"]).filter(F.col("comp") != F.col("comp_b"))
    v = px.join(down, ["gx", "gy"]).filter(F.col("comp") != F.col("comp_b"))
    both = h.unionByName(v).select(
        F.col("comp").alias("comp_a"), "comp_b")
    sym = both.unionByName(both.select(
        F.col("comp_b").alias("comp_a"), F.col("comp_a").alias("comp_b")))
    return sym.distinct()


def sieve_tiles(tiles: DataFrame, threshold: int, dtype: str = "uint8",
                tile_size: int = 256, connect8: bool = False,
                nodata=None, max_rounds: int = 16) -> DataFrame:
    """Sieved runs: (value, gy, gx0, gx1) after small-component
    absorption.  Reconstruct tiles from runs downstream if needed."""
    # nodata=None labels every pixel (GDAL sieve's default all-valid mask)
    runs = tile_runs(tiles, dtype, tile_size, connect8, nodata)
    runs = runs.localCheckpoint(eager=True)
    edges = equivalence_edges(runs, tile_size, connect8)
    comp = global_labels(runs, edges)

    labeled = runs.join(comp, "node").select(
        "comp", "value", "gy", "gx0", "gx1").localCheckpoint(eager=True)

    for _ in range(max_rounds):
        sizes = labeled.groupBy("comp").agg(
            F.sum(F.col("gx1") - F.col("gx0") + 1).alias("size"),
            F.min("value").alias("value"))
        small = sizes.filter(F.col("size") < threshold).select("comp")
        if small.isEmpty():
            break
        node_comp = labeled.select(
            F.col("comp").alias("node"), F.col("comp")).distinct()
        runs_now = labeled.select(
            F.col("comp").alias("node"), "value", "gy", "gx0", "gx1")
        adj = _comp_adjacency(runs_now, node_comp)
        # largest neighbor per small comp: (size desc, comp asc)
        cand = (
            adj.join(small.withColumnRenamed("comp", "comp_a"), "comp_a")
            .join(sizes.select(F.col("comp").alias("comp_b"),
                               F.col("size").alias("nb_size"),
                               F.col("value").alias("nb_value")), "comp_b")
        )
        from pyspark.sql.window import Window
        w = Window.partitionBy("comp_a").orderBy(
            F.col("nb_size").desc(), F.col("comp_b").asc())
        target = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("comp_a").alias("comp"),
                    F.col("comp_b").alias("new_comp"),
                    F.col("nb_value").alias("new_value"))
        )
        if target.isEmpty():
            break
        labeled = (
            labeled.join(target, "comp", "left")
            .select(
                F.coalesce("new_comp", "comp").alias("comp"),
                F.coalesce("new_value", "value").alias("value"),
                "gy", "gx0", "gx1",
            )
            .localCheckpoint(eager=True)
        )
    return labeled


def footprint_tiles(tiles: DataFrame, dtype: str = "uint8",
                    tile_size: int = 256, nodata=0,
                    geotransform=None) -> DataFrame:
    """Valid-data footprint polygons: binarize (px != nodata) then
    distributed polygonize of the mask."""
    np_dtype = np.dtype(dtype)
    ts = tile_size

    def _binarize(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                arr = np.frombuffer(r["px"], dtype=np_dtype).reshape(ts, ts)
                mask = (arr != nodata).astype(np.uint8)
                rows.append((int(r["tx"]), int(r["ty"]), mask.tobytes()))
            yield pd.DataFrame(rows, columns=["tx", "ty", "px"])

    mask_tiles = tiles.select("tx", "ty", "px").mapInPandas(
        _binarize, "tx long, ty long, px binary")

    from .polygonize import polygonize_tiles
    return polygonize_tiles(mask_tiles, dtype="uint8", tile_size=ts,
                            nodata=0, geotransform=geotransform)
