"""Raster tile materialization: rasterize -> tiles -> pyramid.

The Spark rendering of ``gdal raster tile`` + ``gdal_rasterize``
(/root/reference/apps/gdalalg_raster_tile.cpp;
/root/reference/alg/gdalrasterize.cpp):

* geometries are joined to the tiles they touch via the covering-cell
  explode (GetTileIndices, gdalalg_raster_tile.cpp:336) — pure
  Column math, so the fan-out of one geometry to its tiles happens
  JVM-side and shuffles by tile id, exactly how the reference fans
  tiles across its worker pool (:3668-3681);
* per tile, an applyInPandas group burns all intersecting geometries
  in fid order with the scanline kernels (bit-matching
  llrasterize.cpp semantics — see kernels.rasterize) and emits the
  pixel buffer + the GDAL golden checksum (alg/gdalchecksum.cpp);
* the zoom pyramid is built level-by-level: groupBy parent cell,
  mosaic 2x2 children, decimate with the reference's overview
  kernels — nearest picks the top-left source pixel
  (overview.cpp:120 ``int(0.5 + 2*i)``), integer average is
  ``(sum + 2) / 4`` (overview.cpp:1375-1380) — matching
  MosaicDataset feeding the next-lower zoom
  (gdalalg_raster_tile.cpp:1069-1102).

At 10^12 docs the only shuffle is by tile id; skew (a geometry
covering many tiles) is bounded by zoom choice, and hot tiles can be
split per-band like hot cells in the spatial join.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import functions as gf
from ..kernels import checksum as kck
from ..kernels import rasterize as kr
from ..kernels import wkb as kwkb
from .focal import halo_apply
from ..kernels.cells import TileGrid

TILE_SCHEMA = "z int, tx bigint, ty bigint, band int, px binary, checksum long"


def rasterize_tiles(geoms: DataFrame, grid: TileGrid, zoom: int,
                    burn: float = 1.0, value_col: str | None = None,
                    merge: str = kr.MERGE_REPLACE, all_touched: bool = False,
                    dtype: str = "uint8", tile_size: int | None = None,
                    invert: bool = False) -> DataFrame:
    """Burn a geometry table into (z, tx, ty) tiles.

    geoms: DF(fid bigint, wkb binary, xmin/ymin/xmax/ymax double
    [, value_col]).  Burn order inside a tile is fid order (the
    reference burns features in iteration order).  Returns the tiles
    DF (TILE_SCHEMA): px is the raw dtype buffer, checksum the GDAL
    golden checksum of the tile.

    invert: the gdal_rasterize -i flag (gdalrasterize.cpp
    GDALRasterizeLayers bInverse path): ``burn`` lands on every pixel
    NOT covered by any geometry; covered pixels keep the init value
    (0).  The tile universe expands to the FULL zoom matrix (a tile
    with no geometry is entirely burned) — at scale pass a
    pre-filtered AOI by intersecting ``geoms``'s extent upstream, the
    join below stays a left join from the 4^zoom-row universe.
    """
    ts = tile_size or grid.tile_size
    cols = ["fid", "wkb"]
    if value_col:
        cols.append(value_col)
    cells = geoms.withColumn(
        "cell",
        F.explode(gf.covering_cells_col(
            grid, zoom, F.col("xmin"), F.col("ymin"),
            F.col("xmax"), F.col("ymax"))),
    ).select(
        gf.cell_x_col(F.col("cell")).alias("tx"),
        gf.cell_y_col(F.col("cell")).alias("ty"),
        *cols,
    )
    if invert:
        n = 1 << zoom
        universe = (geoms.sparkSession.range(n * n)
                    .select((F.col("id") % n).alias("tx"),
                            F.expr(f"id DIV {n}").alias("ty")))
        cells = universe.join(cells, ["tx", "ty"], "left")

    np_dtype = np.dtype(dtype)
    is_float = np.issubdtype(np_dtype, np.floating)

    def _burn_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        gt = grid.geotransform(zoom, tx, ty)
        img = np.zeros((ts, ts), dtype=np_dtype)
        pdf = pdf.sort_values("fid")
        for _, row in pdf.iterrows():
            if row["wkb"] is None:          # universe tile, no geometry
                continue
            gtype, payload = kwkb.parse_wkb(bytes(row["wkb"]))
            if invert:
                val = 1.0                   # mask pass; inverted below
            elif value_col:
                val = float(row[value_col])
            else:
                val = burn
            if gtype == kwkb.POINT:
                px = kr.world_to_pixel(np.array([payload]), gt)[0]
            elif gtype in (kwkb.LINESTRING,):
                px = kr.world_to_pixel(payload, gt)
            elif gtype == kwkb.POLYGON:
                px = [kr.world_to_pixel(r, gt) for r in payload]
            elif gtype == kwkb.MULTIPOLYGON:
                px = [[kr.world_to_pixel(r, gt) for r in poly] for poly in payload]
            elif gtype in (kwkb.MULTIPOINT, kwkb.MULTILINESTRING):
                px = [kr.world_to_pixel(p, gt) for p in payload]
            else:
                continue
            kr.rasterize_geometry(img, gtype, px, val, merge, all_touched)
        if invert:
            img = np.where(img == 0, np_dtype.type(burn),
                           np_dtype.type(0)).astype(np_dtype)
        return pd.DataFrame({
            "z": [zoom], "tx": [tx], "ty": [ty], "band": [1],
            "px": [img.tobytes()],
            "checksum": [kck.checksum(img, is_float=is_float)],
        })

    return cells.groupBy("tx", "ty").applyInPandas(_burn_tile, TILE_SCHEMA)


def _rms_2x2(canvas, np_dtype, is_float):
    """RMS decimation matching overview.cpp ComputeIntegerRMS_4values
    (:284-333): integer output is the int minimizing
    |rms^2 - sumSquares/4|, via the float32 sqrt of (ss+1)//4 for
    uint8 (the reference's exact path) and the double 0.25*ss form
    for wider types."""
    c = canvas.astype(np.float64)
    ss = (c[::2, ::2] ** 2 + c[::2, 1::2] ** 2 + c[1::2, ::2] ** 2
          + c[1::2, 1::2] ** 2)
    if is_float:
        return np.sqrt(0.25 * ss).astype(np_dtype)
    if np_dtype == np.uint8:
        s1 = (ss.astype(np.int64) + 1) // 4
        rms = np.sqrt(s1.astype(np.float32)).astype(np.int64)
        rms = np.where(rms * (rms + 1) < s1, rms + 1, rms)
        return rms.astype(np_dtype)
    sdw = ss * 0.25
    rms = np.sqrt(sdw).astype(np.int64)
    rms = np.where((2 * rms * (rms + 1) + 1).astype(np.float64) < 2 * sdw,
                   rms + 1, rms)
    return rms.astype(np_dtype)


def _mode_2x2(canvas, np_dtype):
    """Mode decimation matching overview.cpp:2369-2397: the FIRST
    value in raster order to reach the window's max multiplicity wins
    (strict `> nMaxVal` update)."""
    vals = [canvas[::2, ::2], canvas[::2, 1::2],
            canvas[1::2, ::2], canvas[1::2, 1::2]]   # raster order
    counts = [sum((v == w).astype(np.int8) for w in vals) for v in vals]
    best_val = vals[0].copy()
    best_cnt = counts[0].copy()
    for v, c in zip(vals[1:], counts[1:]):
        take = c > best_cnt
        best_val = np.where(take, v, best_val)
        best_cnt = np.where(take, c, best_cnt)
    return best_val.astype(np_dtype)


# 2:1 cubic decimation weights: the convolution overview path scales
# the kernel by 1/ratio (anti-aliasing, overview.cpp:2519-2810
# GDALResampleConvolution* + the scaled-radius setup), so each dst
# pixel spans 8 source taps at phases +/-0.25,0.75,1.25,1.75 of the
# A=-0.5 cubic.  All dyadic -> exact in binary FP; sum = 2.0.
_CUBIC2X_W = np.array([-0.0234375, -0.0703125, 0.2265625, 0.8671875,
                       0.8671875, 0.2265625, -0.0703125, -0.0234375])
_CUBIC2X_K = 3          # halo width: taps reach 3 px past the 2x2 block
# gauss 2:1: separable [1,2,1] over the FORWARD window 2j..2j+2
# (GDALResampleChunk_Gauss, overview.cpp:1827-1960: nSrcYOff = 2j,
# 3x3 matrix, normalized over in-bounds cells)
_GAUSS2X_W = np.array([1.0, 2.0, 1.0])
_CONV2X = {"cubic": (_CUBIC2X_W, _CUBIC2X_K, -3),
           "gauss": (_GAUSS2X_W, 1, 0)}


def _conv2x_pass(padded: np.ndarray, k: int,
                 weights: np.ndarray = _CUBIC2X_W,
                 off: int = -3) -> np.ndarray:
    """One separable horizontal decimation pass with stride 2 (tap m
    reads source column 2j + off + m); NaN-aware weight
    renormalization at data edges (the reference clamps its window to
    the chunk and divides by the sum of used weights)."""
    n_out = (padded.shape[1] - 2 * k) // 2
    num = np.zeros((padded.shape[0], n_out))
    den = np.zeros((padded.shape[0], n_out))
    for m, w in enumerate(weights):
        c0 = m + off + k
        v = padded[:, c0:c0 + 2 * n_out:2]
        ok = ~np.isnan(v)
        num += np.where(ok, w * np.where(ok, v, 0.0), 0.0)
        den += np.where(ok, w, 0.0)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(den != 0.0, num / den, np.nan)


def _conv2x_raw(a: np.ndarray, k: int, weights: np.ndarray,
                off: int) -> np.ndarray:
    """Plain strided weighted sum (no mask, no division) — used to
    carry numerator and denominator separately so the final division
    matches the reference's single JOINT 2D normalization (the gauss
    chunk sums its 3x3 matrix directly, overview.cpp:1960-2040)."""
    n_out = (a.shape[1] - 2 * k) // 2
    out = np.zeros((a.shape[0], n_out))
    for m, w in enumerate(weights):
        c0 = m + off + k
        out += w * a[:, c0:c0 + 2 * n_out:2]
    return out


def _pyramid_reduce_cubic(tiles: DataFrame, zoom: int, dtype: str,
                          tile_size: int, method: str = "cubic") -> DataFrame:
    """Cubic/gauss 2:1 decimation: the shared k-px halo exchange
    (``focal.halo_apply``; taps cross tile borders), separable
    horizontal-then-vertical passes per tile, then a 2x2 quarter
    assembly into the parent tile."""
    np_dtype = np.dtype(dtype)
    is_float = np.issubdtype(np_dtype, np.floating)
    weights, k, off = _CONV2X[method]
    ts = tile_size
    hs = ts // 2

    def _reduce(tx, ty, band, padded) -> pd.DataFrame:
        if method == "gauss":
            # joint 2D normalization: num/den carried separately and
            # divided ONCE (the reference sums its matrix directly)
            ok = ~np.isnan(padded)
            num0 = np.where(ok, padded, 0.0)
            den0 = ok.astype(np.float64) * 1.0
            num = _conv2x_raw(_conv2x_raw(num0, k, weights, off).T,
                              k, weights, off).T
            den = _conv2x_raw(_conv2x_raw(den0, k, weights, off).T,
                              k, weights, off).T
            with np.errstate(invalid="ignore", divide="ignore"):
                out = np.where(den != 0.0, num / den, np.nan)
        else:
            hpass = _conv2x_pass(padded, k, weights, off)  # (ts+2k, hs)
            out = _conv2x_pass(hpass.T, k, weights, off).T  # (hs, hs)
        out = np.where(np.isnan(out), 0.0, out)
        if not is_float:
            info = np.iinfo(np_dtype)
            out = np.clip(np.floor(out + 0.5), info.min, info.max)
        return pd.DataFrame({
            "ptx": [tx >> 1], "pty": [ty >> 1], "band": [band],
            "qx": [tx & 1], "qy": [ty & 1],
            "px": [out.astype(np_dtype).tobytes()],
        })

    quarters = halo_apply(
        tiles, k, _reduce,
        "ptx long, pty long, band int, qx int, qy int, px binary",
        np_dtype, ts)

    def _assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ptx, pty, band = int(key[0]), int(key[1]), int(key[2])
        canvas = np.zeros((ts, ts), dtype=np_dtype)
        for _, r in pdf.iterrows():
            arr = np.frombuffer(r["px"], dtype=np_dtype).reshape(hs, hs)
            canvas[int(r["qy"]) * hs:(int(r["qy"]) + 1) * hs,
                   int(r["qx"]) * hs:(int(r["qx"]) + 1) * hs] = arr
        return pd.DataFrame({
            "z": [zoom - 1], "tx": [ptx], "ty": [pty], "band": [band],
            "px": [canvas.tobytes()],
            "checksum": [kck.checksum(canvas, is_float=is_float)],
        })

    return quarters.groupBy("ptx", "pty", "band").applyInPandas(
        _assemble, TILE_SCHEMA)


def pyramid_reduce(tiles: DataFrame, zoom: int, method: str = "average",
                   dtype: str = "uint8", tile_size: int = 256) -> DataFrame:
    """One pyramid level: tiles at ``zoom`` -> tiles at ``zoom - 1``.

    groupBy parent cell (quadtree shift), mosaic up to 4 children
    into a 2x-size canvas, decimate with the reference kernel:
    'near' -> top-left pixel of each 2x2 (overview.cpp:120),
    'average' -> integer (sum+2)/4 (:1375-1380), float 0.25*sum
    (:1437-1441), 'cubic' -> scaled 8-tap convolution with halo
    exchange (overview.cpp:2519-2810 convolution path), 'gauss' ->
    separable [1,2,1] over the forward 3x3 window (:1827-1960).
    """
    if method in ("cubic", "gauss"):
        return _pyramid_reduce_cubic(tiles, zoom, dtype, tile_size, method)
    np_dtype = np.dtype(dtype)
    is_float = np.issubdtype(np_dtype, np.floating)
    ts = tile_size

    child = tiles.withColumn("ptx", F.shiftrightunsigned("tx", 1)).withColumn(
        "pty", F.shiftrightunsigned("ty", 1))
    if "band" not in child.columns:
        child = child.withColumn("band", F.lit(1))

    def _reduce(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ptx, pty, band = int(key[0]), int(key[1]), int(key[2])
        canvas = np.zeros((2 * ts, 2 * ts), dtype=np_dtype)
        for _, row in pdf.iterrows():
            qx = int(row["tx"]) - 2 * ptx
            qy = int(row["ty"]) - 2 * pty
            arr = np.frombuffer(row["px"], dtype=np_dtype).reshape(ts, ts)
            canvas[qy * ts:(qy + 1) * ts, qx * ts:(qx + 1) * ts] = arr
        if method == "near":
            out = canvas[::2, ::2]
        elif method == "rms":
            out = _rms_2x2(canvas, np_dtype, is_float)
        elif method == "mode":
            out = _mode_2x2(canvas, np_dtype)
        elif is_float:
            c = canvas.astype(np.float64)
            out = (0.25 * (c[::2, ::2] + c[::2, 1::2] + c[1::2, ::2]
                           + c[1::2, 1::2])).astype(np_dtype)
        else:
            c = canvas.astype(np.int64)
            tot = c[::2, ::2] + c[::2, 1::2] + c[1::2, ::2] + c[1::2, 1::2]
            out = ((tot + 2) // 4).astype(np_dtype)
        return pd.DataFrame({
            "z": [zoom - 1], "tx": [ptx], "ty": [pty], "band": [band],
            "px": [out.tobytes()],
            "checksum": [kck.checksum(out, is_float=is_float)],
        })

    # band is part of the grouping key: a multi-band tile table must
    # never mosaic bands into one canvas
    return child.groupBy("ptx", "pty", "band").applyInPandas(
        _reduce, TILE_SCHEMA)


def build_pyramid(tiles: DataFrame, zoom: int, down_to: int = 0,
                  method: str = "average", dtype: str = "uint8",
                  tile_size: int = 256) -> DataFrame:
    """Full pyramid: union of levels ``down_to .. zoom`` (iterative
    level-by-level reduce, each level one distributed job — the
    MosaicDataset recursion of gdalalg_raster_tile.cpp:1069-1102)."""
    out = tiles
    cur = tiles
    for z in range(zoom, down_to, -1):
        cur = pyramid_reduce(cur, z, method, dtype, tile_size)
        out = out.unionByName(cur)
    return out


def raster_stats(tiles: DataFrame, dtype: str = "uint8",
                 stable: bool = True) -> DataFrame:
    """Band statistics over a tiles DF: per-tile numpy partials,
    distributed combination — the twin of
    GDALRasterBand::ComputeStatistics per-block accumulation.

    stable=True (default): per-tile (n, mean, M2) partials merged
    with Chan's parallel update (the numerically safe path —
    E[x^2]-E[x]^2 cancels catastrophically for high-mean/low-variance
    bands; cf. the pairwise accumulation note at ogr/ogr_swq.h:391).
    stable=False keeps the raw-sums form, bit-reproducible against
    a SUM-based SQL oracle when the pixel values are exact integers.
    """
    np_dtype = np.dtype(dtype)

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for _, row in pdf.iterrows():
                a = np.frombuffer(row["px"], dtype=np_dtype).astype(np.float64)
                mean = float(a.mean())
                rows.append({
                    "band": int(row["band"]),
                    "n": a.size,
                    "vmin": float(a.min()),
                    "vmax": float(a.max()),
                    "vsum": float(a.sum()),
                    "vsum2": float((a * a).sum()),
                    "mean": mean,
                    "m2": float(((a - mean) ** 2).sum()),
                })
            yield pd.DataFrame(rows)

    partials = tiles.select("band", "px").mapInPandas(
        _partial, "band int, n long, vmin double, vmax double, "
                  "vsum double, vsum2 double, mean double, m2 double")

    if not stable:
        agg = partials.groupBy("band").agg(
            F.sum("n").alias("n"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("vsum").alias("vsum"),
            F.sum("vsum2").alias("vsum2"),
        )
        mean = F.col("vsum") / F.col("n")
        var = F.col("vsum2") / F.col("n") - mean * mean
        return agg.select(
            "band", "n", "vmin", "vmax",
            mean.alias("mean"), F.sqrt(var).alias("stddev"),
        )

    def _merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        n = 0
        mean = 0.0
        m2 = 0.0
        for _, r in pdf.sort_values(["n", "mean"]).iterrows():
            nb, mb, m2b = int(r["n"]), float(r["mean"]), float(r["m2"])
            if nb == 0:
                continue
            tot = n + nb
            delta = mb - mean
            m2 = m2 + m2b + delta * delta * n * nb / tot
            mean = mean + delta * nb / tot
            n = tot
        return pd.DataFrame([{
            "band": int(key[0]), "n": n,
            "vmin": float(pdf["vmin"].min()),
            "vmax": float(pdf["vmax"].max()),
            "mean": mean,
            "stddev": float(np.sqrt(m2 / n)) if n else 0.0,
        }])

    return partials.groupBy("band").applyInPandas(
        _merge, "band int, n long, vmin double, vmax double, "
                "mean double, stddev double")


def mosaic_tiles(tiles: DataFrame, nodata: float = 0.0,
                 dtype: str = "uint8", tile_size: int = 256) -> DataFrame:
    """gdal_merge.py semantics (osgeo_utils/gdal_merge.py:126-157):
    inputs overlay in ``src`` order, later sources overwrite EXCEPT
    where the later pixel equals nodata (np.choose keep-dst branch).

    tiles: (src int, tx, ty, px [, band]) — src is the file order of
    the merge.  One groupBy per output tile; a tile covered by k
    sources does O(k) vectorized overlays in its task.
    """
    np_dtype = np.dtype(dtype)
    is_float = np.issubdtype(np_dtype, np.floating)
    ts = tile_size
    src_df = tiles if "band" in tiles.columns else tiles.withColumn(
        "band", F.lit(1))

    def _merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty, band = int(key[0]), int(key[1]), int(key[2])
        canvas = np.full((ts, ts), nodata, dtype=np_dtype)
        for _, r in pdf.sort_values("src").iterrows():
            arr = np.frombuffer(r["px"], dtype=np_dtype).reshape(ts, ts)
            if is_float and np.isnan(nodata):
                keep = np.isnan(arr)
            else:
                keep = arr == np_dtype.type(nodata)
            canvas = np.where(keep, canvas, arr)
        return pd.DataFrame({
            "z": [0], "tx": [tx], "ty": [ty], "band": [band],
            "px": [canvas.tobytes()],
            "checksum": [kck.checksum(canvas, is_float=is_float)],
        })

    return src_df.groupBy("tx", "ty", "band").applyInPandas(
        _merge, TILE_SCHEMA)


def raster_histogram(tiles: DataFrame, dfmin: float, dfmax: float,
                     n_buckets: int, include_out_of_range: bool = False,
                     nodata: float | None = None,
                     dtype: str = "uint8") -> DataFrame:
    """Raster histogram over a tiles DF — the distributed twin of
    GDALRasterBand::GetHistogram (gcore/gdalrasterband.cpp:4176-4480).

    Bucketing is the reference's exact rule (:4226, :4462-4477):
    ``dfScale = nBuckets / (dfMax - dfMin)``,
    ``dfIndex = floor((v - dfMin) * dfScale)``; out-of-range values
    land in the first/last bucket when ``bIncludeOutOfRange`` else
    are dropped; NaN and nodata pixels are skipped (:4455-4458).

    Scale shape: per-tile numpy ``bincount`` partials (map-side
    combine inside the Arrow batch), one groupBy(band, bucket) sum,
    then densification against the full ``spark.range(n_buckets)``
    so empty buckets report 0 exactly like the reference's
    pre-zeroed ``panHistogram`` array.  No per-pixel rows ever cross
    the shuffle — only (band, bucket, count) partials, at most
    ``n_buckets`` rows per tile.
    """
    if dfmax <= dfmin or n_buckets <= 0:
        raise ValueError("need dfmax > dfmin and n_buckets > 0")
    np_dtype = np.dtype(dtype)
    scale = n_buckets / (dfmax - dfmin)

    has_band = "band" in tiles.columns
    src = tiles if has_band else tiles.withColumn("band", F.lit(0))

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for _, row in pdf.iterrows():
                a = np.frombuffer(row["px"], dtype=np_dtype).astype(np.float64)
                a = a[~np.isnan(a)]
                if nodata is not None:
                    a = a[a != nodata]
                idx = np.floor((a - dfmin) * scale)
                if include_out_of_range:
                    idx = np.clip(idx, 0, n_buckets - 1)
                else:
                    idx = idx[(idx >= 0) & (idx < n_buckets)]
                cnt = np.bincount(idx.astype(np.int64), minlength=0)
                nz = np.nonzero(cnt)[0]
                for b in nz:
                    rows.append({"band": int(row["band"]),
                                 "bucket": int(b), "cnt": int(cnt[b])})
            yield pd.DataFrame(rows,
                               columns=["band", "bucket", "cnt"])

    partials = src.select("band", "px").mapInPandas(
        _partial, "band int, bucket int, cnt long")
    counts = partials.groupBy("band", "bucket").agg(
        F.sum("cnt").alias("cnt"))

    bands = src.select("band").distinct()
    dense = bands.crossJoin(
        F.broadcast(
            tiles.sparkSession.range(n_buckets)
            .select(F.col("id").cast("int").alias("bucket"))))
    return (
        dense.join(counts, ["band", "bucket"], "left")
        .select("band", "bucket",
                F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
    )


def xyz_rows(tiles: DataFrame, grid: TileGrid, zoom: int,
             dtype: str = "uint8", tile_size: int | None = None,
             skip_value: float | None = None) -> DataFrame:
    """gdal2xyz: tiles -> one (x, y, band, v) row per pixel, x/y at
    the PIXEL CENTER in world coordinates (gdal2xyz.py emits
    ``gt[0] + (col + 0.5) * gt[1]``).  ``skip_value`` plays the
    -skipnodata role.

    Scale shape: a map-only Arrow explode — each tile row fans out to
    tile_size^2 rows with zero shuffle; downstream sinks partition by
    the already-present (tx, ty).
    """
    ts = tile_size or grid.tile_size
    np_dtype = np.dtype(dtype)

    def _emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, r in pdf.iterrows():
                a = np.frombuffer(r["px"], dtype=np_dtype).reshape(ts, ts)
                gt = grid.geotransform(zoom, int(r["tx"]), int(r["ty"]))
                rows_i, cols_i = np.indices(a.shape)
                v = a.ravel()
                x = gt[0] + (cols_i.ravel() + 0.5) * gt[1]
                y = gt[3] + (rows_i.ravel() + 0.5) * gt[5]
                out = pd.DataFrame({
                    "x": x, "y": y,
                    "band": np.full(v.size, int(r["band"]), np.int32),
                    "v": v.astype(np.float64),
                })
                if skip_value is not None:
                    out = out[out["v"] != skip_value]
                yield out

    return tiles.mapInPandas(_emit, "x double, y double, band int, v double")


def compare_tiles(a: DataFrame, b: DataFrame, dtype: str = "uint8",
                  join_cols: tuple = ("tx", "ty")) -> DataFrame:
    """gdalcompare role (swig/python/gdal-utils/.../gdalcompare.py
    compare_band: pixel-difference count + magnitude between two
    rasters of identical tiling).

    Distributed shape: equi-join the two tile tables on the tile key
    (co-partitioned shuffle, or broadcast when one side is small —
    left to AQE), one Arrow pass computing per-tile partials, then a
    map-side-combinable global aggregate.  No driver-side pixels.

    Returns one row: n_pixels, n_diff, max_abs_diff, sum_abs_diff.
    """
    jc = list(join_cols)
    joined = (a.select(*jc, F.col("px").alias("px_a"))
               .join(b.select(*jc, F.col("px").alias("px_b")), jc, "inner"))
    npdt = np.dtype(dtype)

    def _partials(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            n = np.zeros(len(pdf), dtype=np.int64)
            nd = np.zeros(len(pdf), dtype=np.int64)
            mx = np.zeros(len(pdf), dtype=np.float64)
            sm = np.zeros(len(pdf), dtype=np.float64)
            for i, (pa, pb) in enumerate(zip(pdf["px_a"], pdf["px_b"])):
                ta = np.frombuffer(pa, dtype=npdt).astype(np.float64)
                tb = np.frombuffer(pb, dtype=npdt).astype(np.float64)
                d = np.abs(ta - tb)
                n[i] = ta.size
                nd[i] = int((d != 0.0).sum())
                mx[i] = float(d.max()) if d.size else 0.0
                sm[i] = float(d.sum())
            yield pd.DataFrame({"n": n, "nd": nd, "mx": mx, "sm": sm})

    parts = joined.mapInPandas(
        _partials, "n long, nd long, mx double, sm double")
    return parts.agg(
        F.sum("n").alias("n_pixels"),
        F.sum("nd").alias("n_diff"),
        F.max("mx").alias("max_abs_diff"),
        F.sum("sm").alias("sum_abs_diff"))


def zonal_stats(value_tiles: DataFrame, zone_tiles: DataFrame,
                dtype: str = "uint8", zone_dtype: str = "uint8",
                nodata_zone: int = 0,
                join_cols: tuple = ("tx", "ty")) -> DataFrame:
    """Zonal statistics: per-zone count/min/max/sum/mean of a value
    raster under a zone-id raster of identical tiling (the
    rasterize-then-aggregate composition of gdal_rasterize +
    ComputeStatistics; zone tiles typically come from
    ``rasterize_tiles`` burning polygon fids).

    Scale shape: equi-join the two tile tables on the tile key (no
    pixel-level shuffle — AQE picks broadcast when one side is small),
    one Arrow pass per joined tile emitting np.bincount-style partials
    bounded by zones-present-per-tile, then a map-side-combinable
    groupBy(zone) merge.  Works at any tile count; driver never sees
    pixels.
    """
    jc = list(join_cols)
    joined = (value_tiles.select(*jc, F.col("px").alias("px_v"))
              .join(zone_tiles.select(*jc, F.col("px").alias("px_z")),
                    jc, "inner"))
    vdt, zdt = np.dtype(dtype), np.dtype(zone_dtype)

    def _partials(batches):
        for pdf in batches:
            out = []
            for pv, pz in zip(pdf["px_v"], pdf["px_z"]):
                v = np.frombuffer(pv, dtype=vdt).astype(np.float64)
                z = np.frombuffer(pz, dtype=zdt).astype(np.int64)
                m = z != nodata_zone
                if not m.any():
                    continue
                zm, vm = z[m], v[m]
                zs = np.unique(zm)
                for zid in zs:
                    vv = vm[zm == zid]
                    out.append({"zone": int(zid), "n": vv.size,
                                "vmin": float(vv.min()),
                                "vmax": float(vv.max()),
                                "vsum": float(vv.sum())})
            yield pd.DataFrame(
                out, columns=["zone", "n", "vmin", "vmax", "vsum"])

    parts = joined.mapInPandas(
        _partials, "zone long, n long, vmin double, vmax double, vsum double")
    return (parts.groupBy("zone")
            .agg(F.sum("n").alias("n_pixels"),
                 F.min("vmin").alias("vmin"),
                 F.max("vmax").alias("vmax"),
                 F.sum("vsum").alias("vsum"))
            .withColumn("vmean", F.col("vsum") / F.col("n_pixels")))


def translate_window(tiles: DataFrame, x0: int, y0: int, w: int, h: int,
                     dtype: str = "uint8", tile_size: int = 256,
                     out_tile_size: int | None = None,
                     fill: float = 0.0) -> DataFrame:
    """gdal_translate -srcwin role: crop a pixel window (possibly
    tile-UNaligned) and re-origin it at (0,0) as a fresh tile matrix.

    Distributed shape (the fragment-rollup used by mosaic/cumulative
    viewshed): each input tile slices the part of itself inside the
    window and emits fragments keyed by OUTPUT tile; one groupBy
    assembles each output tile from its <=4 fragments.  Input tiles
    wholly outside the window are pruned by a Column predicate BEFORE
    any Python runs, so the crop reads only the covering tiles.
    """
    npdt = np.dtype(dtype)
    ts = tile_size
    ots = out_tile_size or tile_size

    # tile-level pruning: pure Column, pushes to the tiles scan
    tx0, tx1 = x0 // ts, (x0 + w - 1) // ts
    ty0, ty1 = y0 // ts, (y0 + h - 1) // ts
    pruned = tiles.filter(
        (F.col("tx") >= tx0) & (F.col("tx") <= tx1)
        & (F.col("ty") >= ty0) & (F.col("ty") <= ty1))

    def _fragments(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                a = np.frombuffer(r["px"], dtype=npdt).reshape(ts, ts)
                gx0, gy0 = int(r["tx"]) * ts, int(r["ty"]) * ts
                # overlap of this tile with the window, window coords
                ox0 = max(gx0, x0) - x0
                oy0 = max(gy0, y0) - y0
                ox1 = min(gx0 + ts, x0 + w) - x0
                oy1 = min(gy0 + ts, y0 + h) - y0
                if ox0 >= ox1 or oy0 >= oy1:
                    continue
                sub = a[oy0 + y0 - gy0:oy1 + y0 - gy0,
                        ox0 + x0 - gx0:ox1 + x0 - gx0]
                # split by output tile
                for oty in range(oy0 // ots, (oy1 - 1) // ots + 1):
                    for otx in range(ox0 // ots, (ox1 - 1) // ots + 1):
                        fx0 = max(ox0, otx * ots)
                        fy0 = max(oy0, oty * ots)
                        fx1 = min(ox1, (otx + 1) * ots)
                        fy1 = min(oy1, (oty + 1) * ots)
                        frag = sub[fy0 - oy0:fy1 - oy0, fx0 - ox0:fx1 - ox0]
                        rows.append({
                            "otx": otx, "oty": oty,
                            "px0": fx0 - otx * ots, "py0": fy0 - oty * ots,
                            "fw": fx1 - fx0, "fh": fy1 - fy0,
                            "buf": np.ascontiguousarray(frag).tobytes()})
            yield pd.DataFrame(
                rows, columns=["otx", "oty", "px0", "py0", "fw", "fh",
                               "buf"])

    frags = pruned.select("tx", "ty", "px").mapInPandas(
        _fragments, "otx long, oty long, px0 int, py0 int, fw int, "
                    "fh int, buf binary")

    def _assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        otx, oty = int(key[0]), int(key[1])
        canvas = np.full((ots, ots), fill, dtype=npdt)
        for _, r in pdf.iterrows():
            f = np.frombuffer(r["buf"], dtype=npdt).reshape(
                int(r["fh"]), int(r["fw"]))
            canvas[int(r["py0"]):int(r["py0"]) + int(r["fh"]),
                   int(r["px0"]):int(r["px0"]) + int(r["fw"])] = f
        return pd.DataFrame([{"tx": otx, "ty": oty,
                              "px": canvas.tobytes()}])

    return frags.groupBy("otx", "oty").applyInPandas(
        _assemble, "tx long, ty long, px binary")


def tile_index(tiles: DataFrame, grid: "TileGrid", zoom: int,
               tx_col: str = "tx", ty_col: str = "ty") -> DataFrame:
    """gdaltindex role (/root/reference/apps/gdaltindex_lib.cpp:1060-
    1072 corner walk, :1240 ring write): one index feature per
    distinct tile with a location key, the tile envelope, and its
    extent polygon as WKT — corners in the reference's north-up order
    top-left, top-right, bottom-right, bottom-left, closed.

    Pure Column plan: groupBy(tile) count (partial+final), then
    arithmetic on the tile key — the manifest of a 10^12-cell tile
    set is one aggregate over the tile table, no Python.
    """
    ts = grid.tile_span(zoom)
    xmin = F.lit(grid.top_left_x) + F.col(tx_col) * F.lit(ts)
    ymax = F.lit(grid.top_left_y) - F.col(ty_col) * F.lit(ts)
    xmax = xmin + F.lit(ts)
    ymin = ymax - F.lit(ts)
    wkt = F.concat(
        F.lit("POLYGON(("),
        xmin.cast("string"), F.lit(" "), ymax.cast("string"), F.lit(","),
        xmax.cast("string"), F.lit(" "), ymax.cast("string"), F.lit(","),
        xmax.cast("string"), F.lit(" "), ymin.cast("string"), F.lit(","),
        xmin.cast("string"), F.lit(" "), ymin.cast("string"), F.lit(","),
        xmin.cast("string"), F.lit(" "), ymax.cast("string"), F.lit("))"))
    return (tiles.groupBy(tx_col, ty_col)
            .agg(F.count("*").alias("n_rows"))
            .select(
                F.concat(F.lit(f"{zoom}/"), F.col(tx_col).cast("string"),
                         F.lit("/"), F.col(ty_col).cast("string"))
                 .alias("location"),
                F.col(tx_col), F.col(ty_col), F.col("n_rows"),
                xmin.alias("xmin"), ymin.alias("ymin"),
                xmax.alias("xmax"), ymax.alias("ymax"),
                wkt.alias("wkt")))
