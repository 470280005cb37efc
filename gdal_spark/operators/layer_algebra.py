"""Layer algebra: Intersection / Union / Clip / Erase / Identity /
Update / SymDifference over a point layer and a polygon layer.

Semantics follow OGRLayer's layer-algebra methods
(/root/reference/ogr/ogrsf_frmts/generic/ogrlayer.cpp — Intersection
:3345, Union :3763, SymDifference :4300, Identity :4730, Update
:5148, Clip :5497, Erase :5806).  For a POINT method layer the
geometric kernel degenerates to containment, so every operation is a
composition of the engine's two-phase spatial join — the coarse cell
equi-join + exact JVM ray cast — plus semi/anti joins:

  Intersection(P, Q) = points in >=1 polygon, attrs combined
  Clip(P, Q)         = points in >=1 polygon, P attrs only (dedup)
  Erase(P, Q)        = points in no polygon
  Identity(P, Q)     = Intersection + Erase remainder (P split by Q)
  Union(P, Q)        = Identity + polygons with no point (Q-only)
  Update(P, Q)       = Erase + method features passed through
  SymDifference      = Erase + Q-only remainders

For POLYGON x POLYGON layers the true geometric piece construction
runs on the planar-overlay kernel (kernels.clip — the GEOS role of
ogrgeometry.cpp:4895/5080/5333/5406): candidate pairs come from the
same coarse cell equi-join as the spatial join, pairwise pieces from
an Arrow mapInPandas over the joined WKB pairs, and the per-feature
remainders (A minus ALL its intersecting B) from a cogroup keyed by
the input fid — one shuffle each, never all-pairs.  Cardinalities and
piece geometry match /root/reference/autotest/ogr/ogr_layer_algebra.py
(tests/test_layer_algebra_poly.py ports those goldens).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import functions as gf
from ..kernels import clip as kclip
from ..kernels.cells import TileGrid
from ..placement import broadcast_fit, decide
from .spatial_join import spatial_join


def _matches(points: DataFrame, polys: DataFrame, grid: TileGrid,
             zoom: int) -> DataFrame:
    return spatial_join(points, polys, grid, zoom=zoom, how="inner")


def _keys(matches: DataFrame, key: str, bound: DataFrame) -> DataFrame:
    """Distinct ``key`` of ``matches``, broadcast-hinted when ``bound``
    (a superset; Catalyst sizes a join as a product) fits."""
    size, limit, fits = broadcast_fit(bound)
    decide("layer_algebra.keys_broadcast", "broadcast" if fits else "catalyst",
           key=key, bound_size=size, threshold=limit)
    keys = matches.select(key).distinct()
    return F.broadcast(keys) if fits else keys


def intersection(points: DataFrame, polys: DataFrame, grid: TileGrid,
                 zoom: int = 6) -> DataFrame:
    """Points falling in polygons, with combined attributes —
    one output row per (point, containing polygon) pair, matching the
    pairwise-intersection cardinality of ogrlayer.cpp:3345."""
    return _matches(points, polys, grid, zoom)


def clip(points: DataFrame, polys: DataFrame, grid: TileGrid,
         zoom: int = 6) -> DataFrame:
    """Input features cut to the method layer's area: point subset,
    input attributes only (ogrlayer.cpp:5497)."""
    key = points.columns[0]
    hit = _keys(_matches(points, polys, grid, zoom), key, points)
    return points.join(hit, key, "left_semi")


def erase(points: DataFrame, polys: DataFrame, grid: TileGrid,
          zoom: int = 6) -> DataFrame:
    """Input minus the method layer's area (ogrlayer.cpp:5806)."""
    key = points.columns[0]
    hit = _keys(_matches(points, polys, grid, zoom), key, points)
    return points.join(hit, key, "left_anti")


def identity(points: DataFrame, polys: DataFrame, grid: TileGrid,
             zoom: int = 6) -> DataFrame:
    """Input split by the method layer: matched rows carry polygon
    attrs, unmatched rows carry NULLs (ogrlayer.cpp:4730) — i.e. the
    'left' mode of the spatial join."""
    return spatial_join(points, polys, grid, zoom=zoom, how="left")


def union(points: DataFrame, polys: DataFrame, grid: TileGrid,
          zoom: int = 6) -> DataFrame:
    """Identity + method-only remainders: polygons containing no
    point appear once with NULL point attrs (ogrlayer.cpp:3763)."""
    ident = identity(points, polys, grid, zoom)
    hit_fids = _keys(_matches(points, polys, grid, zoom), "fid", polys)
    q_only = polys.drop("wkb").join(hit_fids, "fid", "left_anti")
    return ident.unionByName(q_only, allowMissingColumns=True)


def update(points: DataFrame, polys: DataFrame, grid: TileGrid,
           zoom: int = 6) -> DataFrame:
    """Method layer patches over the input: input features outside Q
    + all Q features (ogrlayer.cpp:5148)."""
    outside = erase(points, polys, grid, zoom)
    return outside.unionByName(polys.drop("wkb"), allowMissingColumns=True)


def sym_difference(points: DataFrame, polys: DataFrame, grid: TileGrid,
                   zoom: int = 6) -> DataFrame:
    """A-only + B-only remainders (ogrlayer.cpp:4300)."""
    a_only = erase(points, polys, grid, zoom)
    hit_fids = _keys(_matches(points, polys, grid, zoom), "fid", polys)
    b_only = polys.drop("wkb").join(hit_fids, "fid", "left_anti")
    return a_only.unionByName(b_only, allowMissingColumns=True)


# ====================================================================
# polygon x polygon layer algebra (planar-overlay kernel)
# ====================================================================

PIECE_SCHEMA = "afid bigint, bfid bigint, wkb binary, area double"


def _geom_side(df: DataFrame, fid_alias: str) -> DataFrame:
    return df.select(
        F.col("fid").alias(fid_alias),
        F.col("wkb").alias(f"{fid_alias[0]}wkb"),
        F.col("xmin").alias(f"{fid_alias[0]}x0"),
        F.col("ymin").alias(f"{fid_alias[0]}y0"),
        F.col("xmax").alias(f"{fid_alias[0]}x1"),
        F.col("ymax").alias(f"{fid_alias[0]}y1"),
    )


def candidate_pairs(a: DataFrame, b: DataFrame, grid: TileGrid,
                    zoom: int = 6) -> DataFrame:
    """bbox-overlapping (afid, bfid) feature pairs with both WKBs —
    the coarse phase: covering-cell equi-join (JVM explode both
    sides), bbox pretest as Column predicates, distinct pairs."""
    def cells(df, fid_alias):
        g = _geom_side(df, fid_alias)
        p = fid_alias[0]
        return g.withColumn(
            "cell",
            F.explode(gf.covering_cells_col(
                grid, zoom, F.col(f"{p}x0"), F.col(f"{p}y0"),
                F.col(f"{p}x1"), F.col(f"{p}y1"))))

    ca = cells(a, "afid")
    cb = cells(b, "bfid")
    pairs = (
        ca.join(cb, "cell")
        .filter((F.col("ax0") <= F.col("bx1")) & (F.col("ax1") >= F.col("bx0"))
                & (F.col("ay0") <= F.col("by1")) & (F.col("ay1") >= F.col("by0")))
        .select("afid", "awkb", "bfid", "bwkb")
        .dropDuplicates(["afid", "bfid"])
    )
    return pairs


def _pieces_rows(afid, bfid, polys):
    rows = []
    for region in polys:
        area = sum(kclip.ring_signed_area(r) for r in region)
        if abs(area) < 1e-12:
            continue
        rows.append({"afid": afid, "bfid": bfid,
                     "wkb": kclip.wkb_of_polys([region]),
                     "area": float(area)})
    return rows


def pairwise_intersection(a: DataFrame, b: DataFrame, grid: TileGrid,
                          zoom: int = 6,
                          pairs: DataFrame | None = None) -> DataFrame:
    """One output piece per (A feature, B feature) areal intersection
    — ogrlayer.cpp:3345 cardinality (KEEP_LOWER_DIMENSION=NO).
    Fully pairwise-parallel: Arrow batches of joined WKB pairs.
    ``pairs`` lets multi-consumer ops (identity/union) share ONE
    candidate_pairs subplan (Catalyst ReuseExchange dedups the
    explode+join+distinct shuffle across the union branches)."""
    if pairs is None:
        pairs = candidate_pairs(a, b, grid, zoom)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                got = kclip.boolean_op(
                    kclip.rings_of_wkb(bytes(r["awkb"])),
                    kclip.rings_of_wkb(bytes(r["bwkb"])),
                    "intersection")
                rows.extend(_pieces_rows(int(r["afid"]), int(r["bfid"]), got))
            if rows:
                yield pd.DataFrame(rows)

    return pairs.mapInPandas(run, PIECE_SCHEMA)


def _swap_pairs(pairs: DataFrame) -> DataFrame:
    """candidate_pairs(b, a) derived from candidate_pairs(a, b) —
    the cell join and bbox pretest are symmetric."""
    return pairs.select(
        F.col("bfid").alias("afid"), F.col("bwkb").alias("awkb"),
        F.col("afid").alias("bfid"), F.col("awkb").alias("bwkb"))


def _minus_all(a: DataFrame, b: DataFrame, grid: TileGrid,
               zoom: int = 6, keep_unmatched: bool = True,
               pairs: DataFrame | None = None) -> DataFrame:
    """Per A feature: A minus the union of ALL its candidate B's —
    a cogroup keyed by afid (sequential difference fold in the task).
    keep_unmatched: emit A features with no candidate at all."""
    if pairs is None:
        pairs = candidate_pairs(a, b, grid, zoom)
    pairs = pairs.select("afid", "bfid", "bwkb")
    asel = a.select(F.col("fid").alias("afid"), F.col("wkb").alias("awkb"))

    def run(key, apdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        if len(apdf) == 0:
            return pd.DataFrame(
                [], columns=["afid", "bfid", "wkb", "area"])
        afid = int(key[0])
        acc = kclip.rings_of_wkb(bytes(apdf["awkb"].iloc[0]))
        polys = None
        # bfid order fixes the difference-fold order -> deterministic
        # piece vertices/areas regardless of shuffle arrival order
        bpdf = bpdf.sort_values("bfid")
        for bw in bpdf["bwkb"]:
            polys = kclip.boolean_op(
                acc, kclip.rings_of_wkb(bytes(bw)), "difference")
            acc = kclip.flatten(polys)
            if not acc:
                break
        if polys is None:          # no intersecting B at all
            if not keep_unmatched:
                return pd.DataFrame(
                    [], columns=["afid", "bfid", "wkb", "area"])
            polys = [[np.asarray(r) for r in kclip.orient_region(acc)]]
        rows = _pieces_rows(afid, None, polys)
        return pd.DataFrame(
            rows if rows else [], columns=["afid", "bfid", "wkb", "area"])

    return (
        asel.groupBy("afid")
        .cogroup(pairs.groupBy("afid"))
        .applyInPandas(run, PIECE_SCHEMA)
    )


def poly_intersection(a, b, grid, zoom=6):
    return pairwise_intersection(a, b, grid, zoom)


def poly_erase(a, b, grid, zoom=6):
    """A minus the method layer's area (ogrlayer.cpp:5806)."""
    return _minus_all(a, b, grid, zoom)


def poly_clip(a, b, grid, zoom=6):
    """A cut to the method layer's area (ogrlayer.cpp:5497): per A,
    union of its pairwise intersections, A attrs only."""
    pieces = pairwise_intersection(a, b, grid, zoom)

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        afid = int(key[0])
        # total fold order (bfid, wkb bytes): a pair can contribute
        # several pieces and shuffle arrival order is arbitrary, so
        # bfid alone leaves the intra-pair order nondeterministic
        pdf = pdf.assign(_w=[bytes(w) for w in pdf["wkb"]]).sort_values(
            ["bfid", "_w"])
        polys = kclip.union_all(
            [kclip.rings_of_wkb(w) for w in pdf["_w"]])
        return pd.DataFrame(_pieces_rows(afid, None, polys),
                            columns=["afid", "bfid", "wkb", "area"])

    return pieces.groupBy("afid").applyInPandas(merge, PIECE_SCHEMA)


def poly_identity(a, b, grid, zoom=6):
    """Pairwise pieces + per-A remainder (ogrlayer.cpp:4730)."""
    pairs = candidate_pairs(a, b, grid, zoom)
    inter = pairwise_intersection(a, b, grid, zoom, pairs=pairs)
    rem = _minus_all(a, b, grid, zoom, keep_unmatched=True, pairs=pairs)
    return inter.unionByName(rem)


def poly_union(a, b, grid, zoom=6):
    """Pairwise pieces + A remainders + B remainders
    (ogrlayer.cpp:3763)."""
    pairs = candidate_pairs(a, b, grid, zoom)
    inter = pairwise_intersection(a, b, grid, zoom, pairs=pairs)
    rem_a = _minus_all(a, b, grid, zoom, keep_unmatched=True, pairs=pairs)
    rem_b = _minus_all(b, a, grid, zoom, keep_unmatched=True,
                       pairs=_swap_pairs(pairs)).select(
        F.lit(None).cast("bigint").alias("afid"),
        F.col("afid").alias("bfid"), "wkb", "area")
    return inter.unionByName(rem_a).unionByName(rem_b)


def poly_sym_difference(a, b, grid, zoom=6):
    """A-only + B-only remainders (ogrlayer.cpp:4300)."""
    pairs = candidate_pairs(a, b, grid, zoom)
    rem_a = _minus_all(a, b, grid, zoom, keep_unmatched=True, pairs=pairs)
    rem_b = _minus_all(b, a, grid, zoom, keep_unmatched=True,
                       pairs=_swap_pairs(pairs)).select(
        F.lit(None).cast("bigint").alias("afid"),
        F.col("afid").alias("bfid"), "wkb", "area")
    return rem_a.unionByName(rem_b)


def poly_update(a, b, grid, zoom=6):
    """Method features patch over the input (ogrlayer.cpp:5148):
    A-outside-B pieces + B features as-is."""
    rem_a = _minus_all(a, b, grid, zoom, keep_unmatched=True)
    bsel = b.select(
        F.lit(None).cast("bigint").alias("afid"),
        F.col("fid").alias("bfid"), "wkb",
        F.lit(None).cast("double").alias("area"))
    return rem_a.unionByName(bsel)


def cascaded_union(df: DataFrame, n_partial: int = 16) -> DataFrame:
    """UnionCascaded (ogrgeometry.cpp:5131) over a polygon table:
    tree fold — hash-partitioned partial unions in parallel tasks,
    then one final merge of the (few) partials."""
    # crc32 (not xxhash64): reproducible outside the JVM, so the
    # serial golden twin can replicate the partial grouping exactly
    withp = df.select("wkb").withColumn(
        "_p", F.pmod(F.crc32("wkb"), F.lit(n_partial)).cast("int"))

    def partial(key, pdf: pd.DataFrame) -> pd.DataFrame:
        wkbs = sorted(bytes(w) for w in pdf["wkb"])   # deterministic fold
        polys = kclip.union_all([kclip.rings_of_wkb(w) for w in wkbs])
        return pd.DataFrame(
            {"wkb": [kclip.wkb_of_polys([reg]) for reg in polys]})

    partials = withp.groupBy("_p").applyInPandas(partial, "wkb binary")

    def final(key, pdf: pd.DataFrame) -> pd.DataFrame:
        wkbs = sorted(bytes(w) for w in pdf["wkb"])
        polys = kclip.union_all([kclip.rings_of_wkb(w) for w in wkbs])
        rows = [{
            "wkb": kclip.wkb_of_polys([reg]),
            "area": float(sum(kclip.ring_signed_area(r) for r in reg)),
        } for reg in polys]
        return pd.DataFrame(rows)

    return (
        partials.withColumn("_g", F.lit(1)).groupBy("_g")
        .applyInPandas(final, "wkb binary, area double")
    )


def clip_lines(lines: DataFrame, polys: DataFrame, grid: TileGrid,
               zoom: int = 6, keep_inside: bool = True) -> DataFrame:
    """Line-layer x polygon-layer clip (keep_inside) / erase: the
    line-areal role of OGRLayer::Clip/Erase (ogrlayer.cpp Clip :3580,
    Erase :4103) for linestring inputs.

    Same two-phase shape as the polygon algebra: covering-cell
    candidate pairs, then one Arrow group per pair runs the line-clip
    kernel (kernels.clip.clip_line_by_region).  Output one row per
    clipped piece with its length.
    """
    import pandas as pd

    from ..kernels import wkb as kwkb

    pairs = candidate_pairs(lines, polys, grid, zoom)

    def _clip(key, pdf: pd.DataFrame) -> pd.DataFrame:
        afid, bfid = int(key[0]), int(key[1])
        rows = []
        r0 = pdf.iloc[0]
        rings = kclip.rings_of_wkb(bytes(r0["bwkb"]))
        gtype, payload = kwkb.parse_wkb(bytes(r0["awkb"]))
        parts = [payload] if gtype == kwkb.LINESTRING else payload
        for part in parts:
            for k, piece in enumerate(kclip.clip_line_by_region(
                    np.asarray(part), rings, keep_inside=keep_inside)):
                arr = np.asarray(piece)
                seg = np.diff(arr, axis=0)
                length = float(np.sqrt((seg ** 2).sum(axis=1)).sum())
                rows.append({
                    "afid": afid, "bfid": bfid, "piece": k,
                    "wkb": kwkb.wkb_linestring(arr),
                    "length": length,
                })
        return pd.DataFrame(
            rows, columns=["afid", "bfid", "piece", "wkb", "length"])

    return pairs.groupBy("afid", "bfid").applyInPandas(
        _clip, "afid long, bfid long, piece int, wkb binary, length double")
