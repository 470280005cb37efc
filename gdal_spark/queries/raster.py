"""Raster operator battery: checksum (SQL-oracled bit-match),
rasterize -> tiles, pyramid, band stats, distributed polygonize.

The rasterize/polygonize scanline+tracing algorithms aren't
SQL-expressible, so those entries are rows-only here and carry their
goldens in tests/test_raster.py (tile-split invariance vs the numpy
kernels, which themselves bit-match the cited GDAL code).  The
checksum and band statistics ARE oracle-checked on a grid derived
identically in both engines.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from . import register
from ..kernels import checksum as kck
from ..kernels.cells import TileGrid
from ..operators.polygonize import polygonize_tiles
from ..operators.raster_tile import build_pyramid, raster_stats, rasterize_tiles
from ..sources import fixtures as fx

GW = 64  # derived-grid side
R_TS = 64
R_ZOOM = 3

_PRIMES = "[7,11,13,17,19,23,29,31,37,41,43]"


def _derived_grid_df(spark):
    """The 64x64 byte grid v = (r*64+c)*7 % 256, built JVM-side."""
    rows = spark.range(GW).select(F.col("id").alias("r"))
    px = rows.select(
        "r", F.explode(F.sequence(F.lit(0), F.lit(GW - 1))).alias("c"))
    return px.select(
        (F.col("r") * GW + F.col("c")).alias("idx"),
        ((F.col("r") * GW + F.col("c")) * 7 % 256).alias("v"),
    )


def _split_2x2(a, ts, **cols):
    """Rows of the 2x2 tiles of ``ts`` px that ``a`` (2ts x 2ts) splits
    into, in row-major tile order: tx, ty, px (the tile's bytes), plus
    ``cols`` on every row."""
    return [dict(cols, tx=txx, ty=tyy,
                 px=a[tyy * ts:(tyy + 1) * ts,
                      txx * ts:(txx + 1) * ts].tobytes())
            for tyy in range(2) for txx in range(2)]


@register(
    "raster_checksum",
    sql=f"""
    WITH px AS (
      SELECT (r.i * {GW} + c.i) AS idx, ((r.i * {GW} + c.i) * 7) % 256 AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    )
    SELECT CAST(SUM(v % ({_PRIMES})[(idx % 11) + 1]) AS BIGINT) & 65535 AS checksum
    FROM px
    """,
    desc="GDAL golden checksum (alg/gdalchecksum.cpp:49-189) bit-matched: "
         "numpy kernel vs the same prime-modulus sum in SQL",
)
def raster_checksum(spark, sf_dir):
    px = _derived_grid_df(spark)

    def _ck(key, pdf: pd.DataFrame) -> pd.DataFrame:
        a = np.zeros(GW * GW, dtype=np.int64)
        a[pdf["idx"].to_numpy()] = pdf["v"].to_numpy()
        return pd.DataFrame({"checksum": [kck.checksum(a.reshape(GW, GW))]})

    return px.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        _ck, "checksum long")


@register(
    "raster_stats",
    sql=f"""
    WITH px AS (
      SELECT ((r.i * {GW} + c.i) * 7) % 256 AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    )
    SELECT 1 AS band, COUNT(*) AS n,
           CAST(MIN(v) AS DOUBLE) AS vmin, CAST(MAX(v) AS DOUBLE) AS vmax,
           ROUND(AVG(v), 6) AS mean,
           ROUND(SQRT(SUM(CAST(v AS DOUBLE) * v) / COUNT(*)
                      - AVG(v) * AVG(v)), 6) AS stddev
    FROM px
    """,
    desc="band statistics: per-tile numpy partials + exact partial/final "
         "combine (GDALRasterBand::ComputeStatistics per-block pattern)",
)
def raster_stats_q(spark, sf_dir):
    px = _derived_grid_df(spark)

    def _tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        a = np.zeros(GW * GW, dtype=np.uint8)
        a[pdf["idx"].to_numpy()] = pdf["v"].to_numpy()
        return pd.DataFrame({
            "z": [0], "tx": [0], "ty": [0], "band": [1],
            "px": [a.tobytes()], "checksum": [0],
        })

    tiles = px.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        _tile, "z int, tx long, ty long, band int, px binary, checksum long")
    # stable=False: the SUM-form is bit-identical to the SQL oracle
    # on this exact-integer fixture; the library default is Welford
    st = raster_stats(tiles, stable=False)
    return st.select(
        "band", "n", "vmin", "vmax",
        F.round("mean", 6).alias("mean"),
        F.round("stddev", 6).alias("stddev"),
    )


@register(
    "rasterize_tiles",
    sql=lambda: __import__(
        "gdal_spark.queries._goldens", fromlist=["x"]).rasterize_tiles_sql(),
    desc="gdal_rasterize equivalent: polygon layer -> (z,tx,ty) tiles with "
         "attribute burn + golden checksums (llrasterize.cpp semantics); "
         "oracle = serial one-pass twin rendered as a VALUES table",
)
def rasterize_tiles_q(spark, sf_dir):
    grid = TileGrid.local(*fx.POLY_BBOX, tile_size=R_TS)
    polys = spark.createDataFrame(fx.polygons_pandas())
    tiles = rasterize_tiles(polys, grid, R_ZOOM, value_col="eas_id",
                            tile_size=R_TS)
    return tiles.select("z", "tx", "ty", "checksum").orderBy("tx", "ty")


@register(
    "tile_pyramid",
    sql=f"""
    WITH l3 AS (
      SELECT c.i AS x, r.i AS y, ((r.i * 512 + c.i) * 7) % 256 AS v
      FROM generate_series(0, 511) r(i), generate_series(0, 511) c(i)
    ),
    l2 AS (SELECT x // 2 AS x, y // 2 AS y, (SUM(v) + 2) // 4 AS v
           FROM l3 GROUP BY x // 2, y // 2),
    l1 AS (SELECT x // 2 AS x, y // 2 AS y, (SUM(v) + 2) // 4 AS v
           FROM l2 GROUP BY x // 2, y // 2),
    l0 AS (SELECT x // 2 AS x, y // 2 AS y, (SUM(v) + 2) // 4 AS v
           FROM l1 GROUP BY x // 2, y // 2),
    allpx AS (
      SELECT 3 AS z, x, y, v FROM l3
      UNION ALL SELECT 2, x, y, v FROM l2
      UNION ALL SELECT 1, x, y, v FROM l1
      UNION ALL SELECT 0, x, y, v FROM l0
    )
    SELECT CAST(z AS INT) AS z, x // 64 AS tx, y // 64 AS ty,
           CAST(SUM(v % ({_PRIMES})
                        [(((y % 64) * 64 + (x % 64)) % 11) + 1])
                AS BIGINT) & 65535 AS checksum
    FROM allpx GROUP BY z, x // 64, y // 64
    ORDER BY z, tx, ty
    """,
    desc="zoom pyramid z->z-1 (overview.cpp average (sum+2)/4), level "
         "checksums per tile; oracle = independent SQL: the same "
         "integer decimation recurrence as grouped aggregation over "
         "the derived grid + the prime-modulus checksum fold",
)
def tile_pyramid_q(spark, sf_dir):
    import pandas as pd

    n, ts = 512, 64
    g = ((np.arange(n * n).reshape(n, n) * 7) % 256).astype(np.uint8)
    rows = []
    for ty in range(n // ts):
        for tx in range(n // ts):
            blk = g[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
            rows.append({"z": 3, "tx": tx, "ty": ty, "band": 1,
                         "px": blk.tobytes(),
                         "checksum": kck.checksum(blk)})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    pyr = build_pyramid(tiles, 3, down_to=0, tile_size=ts)
    return pyr.select(F.col("z").cast("int").alias("z"),
                      "tx", "ty", "checksum").orderBy("z", "tx", "ty")



# gdal_rasterize point/line burns with fully independent SQL oracles
# (round-2 verdict, wrong #2 / next #3): pixel targets re-derived as
# integer arithmetic, the Bresenham walk as a recursive CTE, ADD-merge
# as GROUP BY SUM, and the GDAL checksum as the prime-modulus fold.
_RQ_N = 150
_RQ_PRIME_IDX = "(((y % 32) * 32 + (x % 32)) % 11) + 1"


@register(
    "rasterize_points",
    sql=f"""
    WITH pts AS (
      SELECT ((k.i * 29) % 640) // 10 AS x,
             ((k.i * 37) % 640) // 10 AS y,
             k.i % 7 + 1 AS v
      FROM generate_series(0, {_RQ_N - 1}) k(i)
    ),
    px AS (SELECT x, y, SUM(v) AS v FROM pts GROUP BY x, y)
    SELECT x // 32 AS tx, y // 32 AS ty,
           CAST(SUM(v % ({_PRIMES})[{_RQ_PRIME_IDX}]) AS BIGINT) & 65535
             AS checksum,
           CAST(COUNT(*) AS BIGINT) AS n_burned,
           CAST(SUM(v) AS BIGINT) AS total
    FROM px GROUP BY x // 32, y // 32
    ORDER BY tx, ty
    """,
    desc="gdal_rasterize POINT burn, MERGE_ADD (llrasterize.cpp:232-253 "
         "floor-cell): distributed bbox-cover burn vs independent SQL "
         "pixel arithmetic + checksum fold",
)
def rasterize_points_q(spark, sf_dir):
    from ..kernels import wkb as kwkb

    rows = []
    for k in range(_RQ_N):
        fx_ = ((k * 29) % 640) / 10.0
        fy = ((k * 37) % 640) / 10.0
        wx, wy = fx_, 64.0 - fy          # pixel == world (res 1, top 64)
        rows.append({"fid": k, "wkb": kwkb.wkb_point(wx, wy),
                     "xmin": wx, "ymin": wy, "xmax": wx, "ymax": wy,
                     "v": float(k % 7 + 1)})
    geoms = spark.createDataFrame(pd.DataFrame(rows))
    grid = TileGrid(0.0, 64.0, 64.0, tile_size=32)
    tiles = rasterize_tiles(geoms, grid, 1, value_col="v",
                            merge="ADD", dtype="float64", tile_size=32)

    def _stats(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                a = np.frombuffer(r["px"], dtype=np.float64).reshape(
                    32, 32).astype(np.int64)
                yield pd.DataFrame({
                    "tx": [int(r["tx"])], "ty": [int(r["ty"])],
                    "checksum": [kck.checksum(a)],
                    "n_burned": [int((a != 0).sum())],
                    "total": [int(a.sum())],
                })

    return tiles.mapInPandas(
        _stats, "tx long, ty long, checksum long, n_burned long, "
                "total long").orderBy("tx", "ty")


@register(
    "rasterize_lines",
    sql=f"""
    WITH RECURSIVE
    lines AS (
      SELECT k.i AS lid,
             (k.i * 7) %% 64 AS x0, (k.i * 11) %% 64 AS y0,
             (k.i * 29) %% 64 AS x1, (k.i * 17) %% 64 AS y1
      FROM generate_series(0, {_RQ_N - 1}) k(i)
    ),
    prep AS (
      SELECT lid, x0, y0, x1, y1,
             ABS(x1 - x0) AS dxn, ABS(y1 - y0) AS dyn,
             CASE WHEN x0 > x1 THEN -1 ELSE 1 END AS xstep,
             CASE WHEN y0 > y1 THEN -1 ELSE 1 END AS ystep
      FROM lines
    ),
    walk AS (
      -- llrasterize.cpp:255-368 integer Bresenham, transcribed as a
      -- per-line walker: state rows ARE the burned cells
      SELECT lid, dxn, dyn, xstep, ystep,
             CASE WHEN dxn >= dyn THEN 2 * dyn ELSE 2 * dxn END AS xerr,
             CASE WHEN dxn >= dyn THEN 2 * dyn - 2 * dxn
                  ELSE 2 * dxn - 2 * dyn END AS yerr,
             CASE WHEN dxn >= dyn THEN 2 * dyn - dxn
                  ELSE 2 * dxn - dyn END AS err,
             x0 AS x, y0 AS y,
             CASE WHEN dxn >= dyn THEN dxn ELSE dyn END AS rem
      FROM prep
      UNION ALL
      SELECT lid, dxn, dyn, xstep, ystep, xerr, yerr,
             err + CASE WHEN err > 0 THEN yerr ELSE xerr END,
             CASE WHEN dxn >= dyn THEN x + xstep
                  ELSE x + CASE WHEN err > 0 THEN xstep ELSE 0 END END,
             CASE WHEN dxn >= dyn
                  THEN y + CASE WHEN err > 0 THEN ystep ELSE 0 END
                  ELSE y + ystep END,
             rem - 1
      FROM walk WHERE rem > 0
    ),
    px AS (SELECT x, y, COUNT(*) AS v FROM walk GROUP BY x, y),
    cover AS (            -- bbox tile cover: tiles can be all-zero
      SELECT DISTINCT l.lid, tx.i AS tx, ty.i AS ty
      FROM lines l, generate_series(0, 1) tx(i), generate_series(0, 1) ty(i)
      WHERE tx.i BETWEEN LEAST(l.x0, l.x1) // 32 AND GREATEST(l.x0, l.x1) // 32
        AND ty.i BETWEEN LEAST(l.y0, l.y1) // 32 AND GREATEST(l.y0, l.y1) // 32
    ),
    ctiles AS (SELECT DISTINCT tx, ty FROM cover)
    SELECT t.tx, t.ty,
           CAST(COALESCE(SUM(p.v %% ({_PRIMES})[{_RQ_PRIME_IDX}]), 0)
                AS BIGINT) & 65535 AS checksum,
           CAST(COUNT(p.x) AS BIGINT) AS n_burned,
           CAST(COALESCE(SUM(p.v), 0) AS BIGINT) AS total
    FROM ctiles t LEFT JOIN px p
      ON p.x // 32 = t.tx AND p.y // 32 = t.ty
    GROUP BY t.tx, t.ty
    ORDER BY tx, ty
    """.replace("%%", "%"),
    desc="gdal_rasterize LINESTRING burn, MERGE_ADD (llrasterize.cpp:"
         "255-368 integer Bresenham, endpoint floor): distributed burn "
         "vs an independent recursive-CTE walker + checksum fold",
)
def rasterize_lines_q(spark, sf_dir):
    from ..kernels import wkb as kwkb

    rows = []
    for k in range(_RQ_N):
        ix0, iy0 = (k * 7) % 64, (k * 11) % 64
        ix1, iy1 = (k * 29) % 64, (k * 17) % 64
        pts = np.array([[ix0 + 0.5, 63.5 - iy0],
                        [ix1 + 0.5, 63.5 - iy1]])
        rows.append({"fid": k, "wkb": kwkb.wkb_linestring(pts),
                     "xmin": float(pts[:, 0].min()),
                     "ymin": float(pts[:, 1].min()),
                     "xmax": float(pts[:, 0].max()),
                     "ymax": float(pts[:, 1].max()),
                     "v": 1.0})
    geoms = spark.createDataFrame(pd.DataFrame(rows))
    grid = TileGrid(0.0, 64.0, 64.0, tile_size=32)
    tiles = rasterize_tiles(geoms, grid, 1, value_col="v",
                            merge="ADD", dtype="float64", tile_size=32)

    def _stats(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                a = np.frombuffer(r["px"], dtype=np.float64).reshape(
                    32, 32).astype(np.int64)
                yield pd.DataFrame({
                    "tx": [int(r["tx"])], "ty": [int(r["ty"])],
                    "checksum": [kck.checksum(a)],
                    "n_burned": [int((a != 0).sum())],
                    "total": [int(a.sum())],
                })

    return tiles.mapInPandas(
        _stats, "tx long, ty long, checksum long, n_burned long, "
                "total long").orderBy("tx", "ty")


# Independent SQL oracle for polygonize: horizontal runs of the
# derived grid, connected components via a recursive reachability
# closure over run adjacency, and ring counts from the Euler
# characteristic of each component's closed cell complex —
# rings = 1 + holes = 2 - V + E - F with V/E/F = distinct lattice
# corners / unit edges / pixels.  No shared code with the kernel's
# per-tile labeling, boundary union-find, or ring tracer.
_POLYGONIZE_SQL = """
    WITH RECURSIVE
    px AS (
      SELECT r.i AS y, c.i AS x,
             CASE WHEN (r.i * 64 + c.i) % 97 = 0 THEN 9
                  ELSE ((r.i // 8) + (c.i // 8)) % 4 END AS v
      FROM generate_series(0, 63) r(i), generate_series(0, 63) c(i)
    ),
    fg AS (SELECT * FROM px WHERE v <> 0),
    flag AS (
      SELECT y, x, v,
             CASE WHEN LAG(x) OVER w IS NULL OR LAG(x) OVER w <> x - 1
                       OR LAG(v) OVER w <> v THEN 1 ELSE 0 END AS brk
      FROM fg WINDOW w AS (PARTITION BY y ORDER BY x)
    ),
    runsg AS (
      SELECT y, x, v, SUM(brk) OVER (PARTITION BY y ORDER BY x) AS seq
      FROM flag
    ),
    runs AS (
      SELECT y, MIN(x) AS x0, MAX(x) AS x1, v, y * 64 + MIN(x) AS rid
      FROM runsg GROUP BY y, seq, v
    ),
    adj AS (
      SELECT a.rid AS s, b.rid AS d FROM runs a JOIN runs b
        ON b.y = a.y + 1 AND b.v = a.v
       AND b.x0 <= a.x1 AND b.x1 >= a.x0
    ),
    eg AS (SELECT s, d FROM adj UNION SELECT d, s FROM adj),
    reach AS (
      SELECT rid AS a, rid AS b FROM runs
      UNION
      SELECT r.a, e.d FROM reach r JOIN eg e ON e.s = r.b
    ),
    lbl AS (SELECT a AS rid, MIN(b) AS comp FROM reach GROUP BY a),
    cpx AS (
      SELECT l.comp, f.y, f.x, f.v
      FROM fg f
      JOIN runs r ON r.y = f.y AND r.v = f.v
                 AND f.x BETWEEN r.x0 AND r.x1
      JOIN lbl l ON l.rid = r.rid
    ),
    everts AS (
      -- DISTINCT over UNION ALL on purpose: chained UNION inside a
      -- WITH RECURSIVE block skips deduplication in DuckDB
      SELECT DISTINCT comp, x, y FROM (
        SELECT comp, x, y FROM cpx
        UNION ALL SELECT comp, x + 1, y FROM cpx
        UNION ALL SELECT comp, x, y + 1 FROM cpx
        UNION ALL SELECT comp, x + 1, y + 1 FROM cpx
      )
    ),
    eedges AS (
      SELECT DISTINCT comp, x, y, o FROM (
        SELECT comp, x, y, 0 AS o FROM cpx
        UNION ALL SELECT comp, x, y + 1, 0 FROM cpx
        UNION ALL SELECT comp, x, y, 1 FROM cpx
        UNION ALL SELECT comp, x + 1, y, 1 FROM cpx
      )
    ),
    agg AS (
      SELECT comp, MAX(v) AS value, COUNT(*) AS f FROM cpx GROUP BY comp
    )
    SELECT CAST(a.value AS BIGINT) AS value,
           CAST(a.f AS BIGINT) AS pixel_count,
           CAST(2 - nv.n + ne.n - a.f AS INT) AS n_rings
    FROM agg a
    JOIN (SELECT comp, COUNT(*) AS n FROM everts GROUP BY comp) nv
      ON nv.comp = a.comp
    JOIN (SELECT comp, COUNT(*) AS n FROM eedges GROUP BY comp) ne
      ON ne.comp = a.comp
    ORDER BY value, pixel_count, n_rings
"""


@register(
    "polygonize",
    sql=_POLYGONIZE_SQL,
    desc="distributed gdal_polygonize: per-tile CC labels, cross-tile "
         "union-find to fixpoint, per-component ring assembly; oracle = "
         "independent SQL (runs -> recursive-CTE components -> Euler-"
         "characteristic ring counts), no shared code with the kernel",
)
def polygonize_q(spark, sf_dir):
    import pandas as pd

    rr, cc = np.mgrid[0:64, 0:64]
    a = ((rr // 8 + cc // 8) % 4).astype(np.uint8)
    a[(rr * 64 + cc) % 97 == 0] = 9
    ts = 16
    rows = []
    for ty in range(4):
        for tx in range(4):
            rows.append({"tx": tx, "ty": ty,
                         "px": a[ty * ts:(ty + 1) * ts,
                                 tx * ts:(tx + 1) * ts].tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    out = polygonize_tiles(tiles, tile_size=ts, nodata=0)
    return out.select("value", "pixel_count", "n_rings").orderBy(
        "value", "pixel_count", "n_rings")


# ------------------------------------------------------------- focal ops
def _neighbor_joins():
    """3x3 self-join clauses for the derived grid (afWin order)."""
    terms = []
    k = 0
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            terms.append(
                f"JOIN px w{k} ON w{k}.r = a.r + ({dr}) AND w{k}.c = a.c + ({dc})")
            k += 1
    return "\n      ".join(terms)


_HS = """
      CASE WHEN (
        (sin(radians(45.0)) -
         ((((w0.v + 2*w1.v + w2.v) - (w6.v + 2*w7.v + w8.v)) / (8.0*3.0))
            * cos(radians(315.0)) * cos(radians(45.0))
          - (((w0.v + 2*w3.v + w6.v) - (w2.v + 2*w5.v + w8.v)) / (8.0*2.0))
            * sin(radians(315.0)) * cos(radians(45.0))))
        / sqrt(1.0
          + (((w0.v + 2*w3.v + w6.v) - (w2.v + 2*w5.v + w8.v)) / (8.0*2.0))
            * (((w0.v + 2*w3.v + w6.v) - (w2.v + 2*w5.v + w8.v)) / (8.0*2.0))
          + (((w0.v + 2*w1.v + w2.v) - (w6.v + 2*w7.v + w8.v)) / (8.0*3.0))
            * (((w0.v + 2*w1.v + w2.v) - (w6.v + 2*w7.v + w8.v)) / (8.0*3.0)))
      ) <= 0.0 THEN 1.0 ELSE
        1.0 + 254.0 * (
        (sin(radians(45.0)) -
         ((((w0.v + 2*w1.v + w2.v) - (w6.v + 2*w7.v + w8.v)) / (8.0*3.0))
            * cos(radians(315.0)) * cos(radians(45.0))
          - (((w0.v + 2*w3.v + w6.v) - (w2.v + 2*w5.v + w8.v)) / (8.0*2.0))
            * sin(radians(315.0)) * cos(radians(45.0))))
        / sqrt(1.0
          + (((w0.v + 2*w3.v + w6.v) - (w2.v + 2*w5.v + w8.v)) / (8.0*2.0))
            * (((w0.v + 2*w3.v + w6.v) - (w2.v + 2*w5.v + w8.v)) / (8.0*2.0))
          + (((w0.v + 2*w1.v + w2.v) - (w6.v + 2*w7.v + w8.v)) / (8.0*3.0))
            * (((w0.v + 2*w1.v + w2.v) - (w6.v + 2*w7.v + w8.v)) / (8.0*3.0)))
      ) END
"""


@register(
    "focal_hillshade",
    sql=f"""
    WITH px AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    )
    SELECT a.r, a.c, ROUND({_HS}, 6) AS shade
    FROM px a
      {_neighbor_joins()}
    WHERE a.r BETWEEN 1 AND {GW - 2} AND a.c BETWEEN 1 AND {GW - 2}
    ORDER BY a.r, a.c
    """,
    desc="gdaldem hillshade (Horn gradient, gdaldem_lib.cpp:1003-1029) via "
         "distributed halo exchange; interior pixels oracle-checked "
         "against a 3x3 self-join in SQL",
)
def focal_hillshade(spark, sf_dir):
    import pandas as pd
    from typing import Iterator as _It

    from ..operators.focal import focal_tiles

    ts = GW // 2  # 2x2 tiles -> real halo exchange across all 4 borders

    def _mk_tiles(key, pdf: pd.DataFrame) -> pd.DataFrame:
        a = np.zeros(GW * GW, dtype=np.float64)
        a[pdf["idx"].to_numpy()] = pdf["v"].to_numpy()
        return pd.DataFrame(_split_2x2(a.reshape(GW, GW), ts))

    px = _derived_grid_df(spark)
    tiles = px.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        _mk_tiles, "tx long, ty long, px binary")
    out = focal_tiles(tiles, "hillshade", zoom=1, ewres=2.0, nsres=3.0,
                      dtype="float64", tile_size=ts, out_dtype="float64")

    def _to_rows(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        for pdf in batches:
            for _, rr in pdf.iterrows():
                tile = np.frombuffer(rr["px"], dtype=np.float64).reshape(ts, ts)
                ys, xs = np.nonzero(~np.isnan(tile))
                yield pd.DataFrame({
                    "r": rr["ty"] * ts + ys,
                    "c": rr["tx"] * ts + xs,
                    "shade": np.round(tile[ys, xs], 6),
                })

    rows = out.select("tx", "ty", "px").mapInPandas(
        _to_rows, "r long, c long, shade double")
    return rows.filter(
        (F.col("r") >= 1) & (F.col("r") <= GW - 2)
        & (F.col("c") >= 1) & (F.col("c") <= GW - 2)
    ).orderBy("r", "c")


# ------------------------------------------------------- point sampling
_SAMPLE_PTS = f"""
    spts AS (
      SELECT doc_id AS pid,
             1.0 + 60.0 * (CAST((doc_id * 2654435761) % 1000003 AS DOUBLE) / 1000003.0) AS sx,
             1.0 + 60.0 * (CAST((doc_id * 40503 + 12345) % 1000003 AS DOUBLE) / 1000003.0) AS sy
      FROM documents
    ),
    gpx AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    )
"""


def _sample_points_df(spark, sf_dir):
    from . import t as _t
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    fx1 = ((F.col("doc_id") * 2654435761) % 1000003).cast("double") / 1000003.0
    fx2 = ((F.col("doc_id") * 40503 + 12345) % 1000003).cast("double") / 1000003.0
    sx = F.lit(1.0) + F.lit(60.0) * fx1
    sy = F.lit(1.0) + F.lit(60.0) * fx2
    return docs.select(
        F.col("doc_id").alias("pid"),
        sx.alias("x"), (F.lit(float(GW)) - sy).alias("y"))


def _pixel_tiles_df(spark):
    """Derived grid split into 2x2 tiles of 32px (pixel-space grid)."""
    ts = GW // 2

    def _mk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        a = np.zeros(GW * GW, dtype=np.uint8)
        a[pdf["idx"].to_numpy()] = pdf["v"].to_numpy()
        return pd.DataFrame(_split_2x2(a.reshape(GW, GW), ts))

    px = _derived_grid_df(spark)
    return px.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        _mk, "tx long, ty long, px binary")


@register(
    "point_sample_near",
    sql=f"""
    WITH {_SAMPLE_PTS}
    SELECT p.pid, g.v AS value
    FROM spts p JOIN gpx g
      ON g.r = CAST(FLOOR(p.sy) AS BIGINT) AND g.c = CAST(FLOOR(p.sx) AS BIGINT)
    ORDER BY p.pid
    """,
    desc="raster value at points, nearest pixel (gdallocationinfo; "
         "gdal_interpolateatpoint.cpp near path) — cogroup of points "
         "and halo-padded tiles",
)
def point_sample_near(spark, sf_dir):
    from ..kernels.cells import TileGrid as _TG
    from ..operators.point_sample import sample_tiles

    pixgrid = _TG(0.0, float(GW), float(GW), GW // 2)
    out = sample_tiles(_pixel_tiles_df(spark), _sample_points_df(spark, sf_dir),
                       pixgrid, zoom=1, method="near", dtype="uint8",
                       tile_size=GW // 2)
    return out.select("pid", "value").orderBy("pid")


@register(
    "point_sample_bilinear",
    sql=f"""
    WITH {_SAMPLE_PTS},
    q AS (
      SELECT pid, sx, sy,
             CAST(FLOOR(sx - 0.5) AS BIGINT) AS x0,
             CAST(FLOOR(sy - 0.5) AS BIGINT) AS y0,
             (sx - 0.5) - FLOOR(sx - 0.5) AS fx,
             (sy - 0.5) - FLOOR(sy - 0.5) AS fy
      FROM spts
    )
    SELECT q.pid,
           ROUND((((1 - fx) * (1 - fy) * a.v + fx * (1 - fy) * b.v)
                  + (1 - fx) * fy * c2.v) + fx * fy * d.v, 6) AS value
    FROM q
    JOIN gpx a  ON a.r = q.y0     AND a.c = q.x0
    JOIN gpx b  ON b.r = q.y0     AND b.c = q.x0 + 1
    JOIN gpx c2 ON c2.r = q.y0 + 1 AND c2.c = q.x0
    JOIN gpx d  ON d.r = q.y0 + 1 AND d.c = q.x0 + 1
    ORDER BY q.pid
    """,
    desc="bilinear interpolation at points across tile borders via halo "
         "(gdal_interpolateatpoint.cpp:415 semantics)",
)
def point_sample_bilinear(spark, sf_dir):
    from ..kernels.cells import TileGrid as _TG
    from ..operators.point_sample import sample_tiles

    pixgrid = _TG(0.0, float(GW), float(GW), GW // 2)
    out = sample_tiles(_pixel_tiles_df(spark), _sample_points_df(spark, sf_dir),
                       pixgrid, zoom=1, method="bilinear", dtype="uint8",
                       tile_size=GW // 2)
    return out.select("pid", F.round("value", 6).alias("value")).orderBy("pid")


# -------------------------------------------------- proximity / sieve / contour
@register(
    "proximity",
    sql=f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c, ((r.i * {GW} + c.i) * 7) % 256 AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    tgt AS (SELECT r AS tr, c AS tc FROM gpx WHERE v = 0),
    d AS (
      SELECT g.r, g.c,
             MIN(sqrt(CAST((g.r - t.tr) * (g.r - t.tr)
                         + (g.c - t.tc) * (g.c - t.tc) AS DOUBLE))) AS dist
      FROM gpx g CROSS JOIN tgt t
      GROUP BY g.r, g.c
    )
    SELECT r, c,
           ROUND(CASE WHEN dist <= 40.0 THEN dist ELSE 65535.0 END, 6) AS dist
    FROM d ORDER BY r, c
    """,
    desc="proximity raster (alg/gdalproximity.cpp:94): distance to nearest "
         "target pixel via bounded-radius target gather; exact Euclidean "
         "min bit-matched against SQL",
)
def proximity_q(spark, sf_dir):
    from typing import Iterator as _It

    from ..operators.proximity import proximity_tiles

    ts = GW // 2
    tiles = _pixel_tiles_df(spark)
    out = proximity_tiles(tiles, [0], maxdist=40.0, dtype="uint8",
                          tile_size=ts, out_dtype="float64")

    def _rows(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        for pdf in batches:
            for _, rr in pdf.iterrows():
                t = np.frombuffer(rr["px"], dtype=np.float64).reshape(ts, ts)
                ys, xs = np.mgrid[0:ts, 0:ts]
                yield pd.DataFrame({
                    "r": (rr["ty"] * ts + ys).ravel(),
                    "c": (rr["tx"] * ts + xs).ravel(),
                    "dist": np.round(t.ravel(), 6),
                })

    return out.mapInPandas(_rows, "r long, c long, dist double").orderBy("r", "c")


@register(
    "sieve",
    sql=lambda: __import__(
        "gdal_spark.queries._goldens", fromlist=["x"]).sieve_sql(),
    desc="sieve filter (alg/gdalsievefilter.cpp:178): small components "
         "absorbed by largest neighbor, distributed union-find + merge "
         "rounds; oracle = serial sieve_array twin (VALUES)",
)
def sieve_q(spark, sf_dir):
    from ..operators.sieve import sieve_tiles

    ts = GW // 2

    def _mk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # blocky regions + scattered single-pixel specks to absorb
        rr, cc = np.mgrid[0:GW, 0:GW]
        a = ((rr // 8 + cc // 8) % 4).astype(np.uint8)
        speck = (rr * GW + cc) % 97 == 0
        a[speck] = 9
        return pd.DataFrame(_split_2x2(a, ts))

    tiles = spark.range(1).withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        _mk, "tx long, ty long, px binary")
    runs = sieve_tiles(tiles, threshold=4, tile_size=ts, nodata=None)
    return (
        runs.groupBy("value")
        .agg(F.sum(F.col("gx1") - F.col("gx0") + 1).alias("n_px"))
        .orderBy("value")
    )


@register(
    "contour",
    sql=lambda: __import__(
        "gdal_spark.queries._goldens", fromlist=["x"]).contour_sql(),
    desc="contour lines (alg/contour.cpp, marching_squares/): per-tile "
         "cells + cross-tile polyline stitching via pointer-jumping "
         "union-find on exact endpoints; oracle = serial marching-"
         "squares + stitch twin (VALUES)",
)
def contour_q(spark, sf_dir):
    from ..operators.contour import contour_tiles

    ts = GW // 2
    tiles = _pixel_tiles_df(spark)
    out = contour_tiles(tiles, levels=[100.5, 200.5], tile_size=ts)
    return out.select("level", "n_pts", "closed").orderBy(
        "level", "n_pts", "closed")


# ----------------------------------------------------- band calc / reclass
def _two_band_tiles(spark):
    ts = GW // 2

    def _mk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        idx = np.arange(GW * GW).reshape(GW, GW)
        a = ((idx * 7) % 256).astype(np.uint8)
        b = ((idx * 13) % 256).astype(np.uint8)
        return pd.DataFrame(_split_2x2(a, ts, band="A")
                            + _split_2x2(b, ts, band="B"))

    both = spark.range(1).withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        _mk, "band string, tx long, ty long, px binary")
    both = both.cache()
    return (both.filter(F.col("band") == "A").drop("band"),
            both.filter(F.col("band") == "B").drop("band"))


def _tile_pixel_rows(out, ts, value_col="value"):
    from typing import Iterator as _It

    def _rows(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        for pdf in batches:
            for _, rr in pdf.iterrows():
                t = np.frombuffer(rr["px"], dtype=np.float64).reshape(ts, ts)
                ys, xs = np.mgrid[0:ts, 0:ts]
                yield pd.DataFrame({
                    "r": (rr["ty"] * ts + ys).ravel(),
                    "c": (rr["tx"] * ts + xs).ravel(),
                    value_col: np.round(t.ravel(), 6),
                })

    return out.mapInPandas(_rows, f"r long, c long, {value_col} double")


@register(
    "raster_calc",
    sql=f"""
    WITH px AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS a,
             CAST(((r.i * {GW} + c.i) * 13) % 256 AS DOUBLE) AS b
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    )
    SELECT r, c, ROUND((a + b) / 2.0 + sqrt(a), 6) AS value
    FROM px ORDER BY r, c
    """,
    desc="band algebra (VRT pixel functions / gdal raster calc, "
         "pixelfunctions.cpp:3940-4030): numpy expression over "
         "co-grouped band tiles, bit-matched in SQL",
)
def raster_calc_q(spark, sf_dir):
    from ..operators.raster_calc import calc_tiles

    ts = GW // 2
    a, b = _two_band_tiles(spark)
    out = calc_tiles({"A": a, "B": b}, "(A + B) / 2.0 + sqrt(A)",
                     tile_size=ts)
    return _tile_pixel_rows(out, ts).orderBy("r", "c")


@register(
    "reclassify",
    sql=f"""
    WITH px AS (
      SELECT r.i AS r, c.i AS c, ((r.i * {GW} + c.i) * 7) % 256 AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    )
    SELECT r, c,
           CAST(CASE WHEN v >= 0 AND v < 85 THEN 1
                     WHEN v >= 85 AND v < 170 THEN 2
                     WHEN v >= 170 AND v < 256 THEN 3
                     ELSE 0 END AS BIGINT) AS cls
    FROM px ORDER BY r, c
    """,
    desc="reclassify by value ranges (vrtreclassifier.cpp semantics)",
)
def reclassify_q(spark, sf_dir):
    from typing import Iterator as _It

    from ..operators.raster_calc import reclassify_tiles

    ts = GW // 2
    a, _b = _two_band_tiles(spark)
    out = reclassify_tiles(a, [(0, 85, 1), (85, 170, 2), (170, 256, 3)],
                           tile_size=ts)

    def _rows(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        for pdf in batches:
            for _, rr in pdf.iterrows():
                t = np.frombuffer(rr["px"], dtype=np.uint8).reshape(ts, ts)
                ys, xs = np.mgrid[0:ts, 0:ts]
                yield pd.DataFrame({
                    "r": (rr["ty"] * ts + ys).ravel(),
                    "c": (rr["tx"] * ts + xs).ravel(),
                    "cls": t.ravel().astype(np.int64),
                })

    return out.mapInPandas(_rows, "r long, c long, cls long").orderBy("r", "c")


# ------------------------------------------------------------- reproject
@register(
    "reproject_points",
    sql=f"""
    WITH ll AS (
      SELECT doc_id,
             -180.0 + 359.0 * (CAST((doc_id * 2654435761) % 1000003 AS DOUBLE) / 1000003.0) AS lon,
             -85.0 + 170.0 * (CAST((doc_id * 40503 + 12345) % 1000003 AS DOUBLE) / 1000003.0) AS lat
      FROM documents
    )
    SELECT doc_id,
           ROUND(6378137.0 * radians(lon), 4) AS mx,
           ROUND(6378137.0 * ln(tan({0.7853981633974483!r} + radians(lat) / 2.0)), 4) AS my
    FROM ll ORDER BY doc_id
    """,
    desc="EPSG:4326 -> 3857 point reprojection as pure Column math "
         "(ogrct.cpp:2264 array-transform role), trig bit-checked vs SQL",
)
def reproject_points_q(spark, sf_dir):
    from . import t as _t
    from ..operators.warp import lonlat_to_mercator_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    f1 = ((F.col("doc_id") * 2654435761) % 1000003).cast("double") / 1000003.0
    f2 = ((F.col("doc_id") * 40503 + 12345) % 1000003).cast("double") / 1000003.0
    lon = F.lit(-180.0) + F.lit(359.0) * f1
    lat = F.lit(-85.0) + F.lit(170.0) * f2
    mx, my = lonlat_to_mercator_cols(lon, lat)
    return docs.select(
        "doc_id", F.round(mx, 4).alias("mx"), F.round(my, 4).alias("my")
    ).orderBy("doc_id")


# ------------------------------------------------------------ fill nodata
@register(
    "fill_nodata",
    sql=f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    holes AS (SELECT r, c FROM gpx WHERE v = 0),
    filled AS (
      SELECT h.r, h.c,
             SUM(g.v / CAST((g.r - h.r) * (g.r - h.r)
                          + (g.c - h.c) * (g.c - h.c) AS DOUBLE))
             / SUM(1.0 / CAST((g.r - h.r) * (g.r - h.r)
                            + (g.c - h.c) * (g.c - h.c) AS DOUBLE)) AS fv
      FROM holes h JOIN gpx g
        ON g.r BETWEEN h.r - 3 AND h.r + 3
       AND g.c BETWEEN h.c - 3 AND h.c + 3
       AND g.v <> 0
      GROUP BY h.r, h.c
    )
    SELECT r, c, ROUND(fv, 6) AS value FROM filled ORDER BY r, c
    """,
    desc="fill nodata (alg/rasterfill.cpp:394 role): IDW(1/d^2) over "
         "valid pixels in the search radius, k-px halo exchange; filled "
         "values oracle-checked",
)
def fill_nodata_q(spark, sf_dir):
    from typing import Iterator as _It

    from ..operators.fill import fill_nodata_tiles

    ts = GW // 2

    def _mk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        idx = np.arange(GW * GW).reshape(GW, GW)
        return pd.DataFrame(_split_2x2(
            ((idx * 7) % 256).astype(np.float64), ts))

    tiles = spark.range(1).withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        _mk, "tx long, ty long, px binary")
    out = fill_nodata_tiles(tiles, nodata=0.0, radius=3, dtype="float64",
                            tile_size=ts)

    idx0 = np.arange(GW * GW).reshape(GW, GW)
    hole_mask = ((idx0 * 7) % 256) == 0

    def _rows(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        for pdf in batches:
            for _, rr in pdf.iterrows():
                t = np.frombuffer(rr["px"], dtype=np.float64).reshape(ts, ts)
                ys, xs = np.mgrid[0:ts, 0:ts]
                gr = (rr["ty"] * ts + ys).ravel()
                gc = (rr["tx"] * ts + xs).ravel()
                m = hole_mask[gr, gc]
                yield pd.DataFrame({
                    "r": gr[m], "c": gc[m],
                    "value": np.round(t.ravel()[m], 6),
                })

    return out.mapInPandas(_rows, "r long, c long, value double").orderBy("r", "c")


# ------------------------------------------------------------ warp kernels
# dst grid chosen so every kernel window is interior (no renorm) and
# the 2.5-unit resolution gives non-trivial fractional weights; output
# pixels are uint8 after GDAL's floor(v+0.5) clamp -> integer compare.
_WARP_DTS = 20


def _warp_query(method, quantize=False):
    from ..kernels.cells import TileGrid as _TG
    from ..operators.warp import warp_tiles

    def q(spark, sf_dir):
        src_grid = _TG(0.0, float(GW), float(GW), GW // 2)
        if method in ("cubic", "cubicspline", "lanczos"):
            dst_grid = _TG(4.0, 60.0, 50.0, _WARP_DTS)
        else:
            dst_grid = _TG(0.0, 64.0, 50.0, _WARP_DTS)
        tiles = _pixel_tiles_df(spark)
        if quantize:
            # coarsen to 8 levels so 2.5x-downscale footprints hold
            # genuine duplicates and the mode path is non-trivial
            def _q(batches):
                for pdf in batches:
                    pdf = pdf.copy()
                    pdf["px"] = [
                        (np.frombuffer(b, dtype=np.uint8) // 32).tobytes()
                        for b in pdf["px"]]
                    yield pdf
            tiles = tiles.mapInPandas(_q, "tx long, ty long, px binary")
        out = warp_tiles(tiles, src_grid, 1, dst_grid, 0,
                         direction="identity", dtype="uint8",
                         src_tile_size=GW // 2,
                         dst_tile_size=_WARP_DTS, method=method)

        def _rows(batches):
            for pdf in batches:
                for _, rr in pdf.iterrows():
                    t = np.frombuffer(rr["px"], dtype=np.uint8).reshape(
                        _WARP_DTS, _WARP_DTS)
                    ys, xs = np.mgrid[0:_WARP_DTS, 0:_WARP_DTS]
                    yield pd.DataFrame({
                        "r": ys.ravel().astype(np.int64),
                        "c": xs.ravel().astype(np.int64),
                        "value": t.ravel().astype(np.int64),
                    })

        return out.select("px", "tx", "ty").mapInPandas(
            _rows, "r long, c long, value long").orderBy("r", "c")

    return q


_BILIN_SQL = f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    q AS (
      SELECT r.i AS r, c.i AS c,
             (2.5 * c.i + 1.25) - 0.5 AS fx0,
             (2.5 * r.i + 1.25) - 0.5 AS fy0
      FROM generate_series(0, {_WARP_DTS - 1}) r(i),
           generate_series(0, {_WARP_DTS - 1}) c(i)
    ),
    w AS (
      SELECT r, c,
             CAST(FLOOR(fx0) AS BIGINT) AS x0, fx0 - FLOOR(fx0) AS dx,
             CAST(FLOOR(fy0) AS BIGINT) AS y0, fy0 - FLOOR(fy0) AS dy
      FROM q
    )
    SELECT w.r, w.c,
           CAST(FLOOR(
             (1-dx)*(1-dy)*a.v + dx*(1-dy)*b.v + (1-dx)*dy*c2.v + dx*dy*d.v
             + 0.5) AS BIGINT) AS value
    FROM w
    JOIN gpx a  ON a.r = w.y0     AND a.c = w.x0
    JOIN gpx b  ON b.r = w.y0     AND b.c = w.x0 + 1
    JOIN gpx c2 ON c2.r = w.y0 + 1 AND c2.c = w.x0
    JOIN gpx d  ON d.r = w.y0 + 1 AND d.c = w.x0 + 1
    ORDER BY w.r, w.c
"""

_CUBIC_W = """
      0.5*(-dx + 2*dxx - dxxx) AS wx0, 1 + 0.5*(-5*dxx + 3*dxxx) AS wx1,
      0.5*(dx + 4*dxx - 3*dxxx) AS wx2, 0.5*(-dxx + dxxx) AS wx3,
      0.5*(-dy + 2*dyy - dyyy) AS wy0, 1 + 0.5*(-5*dyy + 3*dyyy) AS wy1,
      0.5*(dy + 4*dyy - 3*dyyy) AS wy2, 0.5*(-dyy + dyyy) AS wy3
"""

_CUBIC_SUM = " + ".join(
    f"(wx{ix} * wy{iy}) * g{ix}{iy}.v" for iy in range(4) for ix in range(4))
_CUBIC_JOINS = "\n    ".join(
    f"JOIN gpx g{ix}{iy} ON g{ix}{iy}.r = w.y0 + ({iy - 1}) "
    f"AND g{ix}{iy}.c = w.x0 + ({ix - 1})"
    for iy in range(4) for ix in range(4))

_CUBIC_SQL = f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    q AS (
      SELECT r.i AS r, c.i AS c,
             (4.0 + 2.5 * c.i + 1.25) - 0.5 AS fx0,
             (64.0 - (60.0 - (2.5 * r.i + 1.25))) - 0.5 AS fy0
      FROM generate_series(0, {_WARP_DTS - 1}) r(i),
           generate_series(0, {_WARP_DTS - 1}) c(i)
    ),
    base AS (
      SELECT r, c,
             CAST(FLOOR(fx0) AS BIGINT) AS x0, fx0 - FLOOR(fx0) AS dx,
             CAST(FLOOR(fy0) AS BIGINT) AS y0, fy0 - FLOOR(fy0) AS dy
      FROM q
    ),
    w AS (
      SELECT r, c, x0, y0, dx, dy,
             dx*dx AS dxx, dx*dx*dx AS dxxx,
             dy*dy AS dyy, dy*dy*dy AS dyyy
      FROM base
    ),
    ww AS (SELECT r, c, x0, y0, {_CUBIC_W} FROM w)
    SELECT w.r, w.c,
           LEAST(GREATEST(CAST(FLOOR(({_CUBIC_SUM}) + 0.5) AS BIGINT), 0),
                 255) AS value
    FROM ww w
    {_CUBIC_JOINS}
    ORDER BY w.r, w.c
"""

register(
    "warp_bilinear",
    sql=_BILIN_SQL,
    desc="tile warp, bilinear kernel (GWKBilinearResample, "
         "gdalwarpkernel.cpp:101-180): per-dst-tile source mosaic with "
         "halo fan-out; fractional 2.5-res weights, bit-matched in SQL",
)(_warp_query("bilinear"))

register(
    "warp_cubic",
    sql=_CUBIC_SQL,
    desc="tile warp, cubic convolution kernel (CubicConvolution, "
         "gdalwarpkernel.cpp:2931, A=-0.5): 4x4 window from the halo'd "
         "mosaic; 16-term weighted sum bit-matched in SQL",
)(_warp_query("cubic"))


_AVG_SQL = f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c, ((r.i * {GW} + c.i) * 7) % 256 AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    q AS (
      SELECT r.i AS r, c.i AS c
      FROM generate_series(0, {_WARP_DTS - 1}) r(i),
           generate_series(0, {_WARP_DTS - 1}) c(i)
    )
    SELECT q.r, q.c,
           CAST(FLOOR(CAST(SUM(g.v) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
             AS value
    FROM q JOIN gpx g
      ON  g.c + 0.5e0 >= 2.5e0 * q.c AND g.c + 0.5e0 < 2.5e0 * q.c + 2.5e0
      AND g.r + 0.5e0 >= 2.5e0 * q.r AND g.r + 0.5e0 < 2.5e0 * q.r + 2.5e0
    GROUP BY q.r, q.c
    ORDER BY q.r, q.c
"""

register(
    "warp_average",
    sql=_AVG_SQL,
    desc="tile warp, area-average kernel (GWKAverageOrMode role, "
         "gdalwarpkernel.cpp:101-180): mean of source pixels whose "
         "centers fall in the dst pixel's back-projected footprint",
)(_warp_query("average"))


# ---- separable-kernel SQL (cubicspline / lanczos): same joined-window
# shape as _CUBIC_SQL, weights written as the exact FP expression the
# numpy kernel evaluates (dyadic dx/dy = 0.25/0.75 keep the B-spline
# algebra exact in both engines; lanczos goes through libm sin in
# both).  Normalized by the same-order weight sum, as the kernel does.
def _bspline_w_sql(var: str, i: int) -> str:
    d = f"(({i}) - {var})"
    def cube(e):
        return f"(({e}) * ({e}) * ({e}))"
    return (f"({cube(f'GREATEST({d} + 2.0, 0.0)')}"
            f" - 4.0 * {cube(f'GREATEST({d} + 1.0, 0.0)')}"
            f" + 6.0 * {cube(f'GREATEST({d}, 0.0)')}"
            f" - 4.0 * {cube(f'GREATEST({d} - 1.0, 0.0)')})")


def _lanczos_w_sql(var: str, i: int) -> str:
    d = f"(({i}) - {var})"
    pix = f"(PI() * {d})"
    return (f"(3.0 * SIN({pix}) * SIN({pix} / 3.0)"
            f" / ({pix} * {pix}))")


def _sep_kernel_sql(method: str) -> str:
    # ONE range-join into the nk x nk window, each tap pivoted out by
    # a single-element SUM(CASE) (n-way join version planned fine at
    # 16 relations but DuckDB's join-order search chokes at 36), then
    # an explicitly-ordered term chain that reproduces the numpy
    # kernel's left-fold (iy outer, ix inner) bit-for-bit.
    k0, k1 = (-1, 3) if method == "cubicspline" else (-2, 4)
    nk = k1 - k0
    wfn = _bspline_w_sql if method == "cubicspline" else _lanczos_w_sql
    wx = ",\n             ".join(
        f"{wfn('dx', k + k0)} AS wx{k}" for k in range(nk))
    wy = ",\n             ".join(
        f"{wfn('dy', k + k0)} AS wy{k}" for k in range(nk))
    wcarry = ",\n             ".join(
        [f"ANY_VALUE(wx{k}) AS wx{k}" for k in range(nk)]
        + [f"ANY_VALUE(wy{k}) AS wy{k}" for k in range(nk)])
    piv = ",\n             ".join(
        f"SUM(CASE WHEN gr = y0 + ({iy + k0}) AND gc = x0 + ({ix + k0}) "
        f"THEN v END) AS v{ix}_{iy}"
        for iy in range(nk) for ix in range(nk))
    num = " + ".join(f"(wx{ix} * wy{iy}) * v{ix}_{iy}"
                     for iy in range(nk) for ix in range(nk))
    den = " + ".join(f"(wx{ix} * wy{iy})"
                     for iy in range(nk) for ix in range(nk))
    return f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    q AS (
      SELECT r.i AS r, c.i AS c,
             (4.0 + 2.5 * c.i + 1.25) - 0.5 AS fx0,
             (64.0 - (60.0 - (2.5 * r.i + 1.25))) - 0.5 AS fy0
      FROM generate_series(0, {_WARP_DTS - 1}) r(i),
           generate_series(0, {_WARP_DTS - 1}) c(i)
    ),
    base AS (
      SELECT r, c,
             CAST(FLOOR(fx0) AS BIGINT) AS x0, fx0 - FLOOR(fx0) AS dx,
             CAST(FLOOR(fy0) AS BIGINT) AS y0, fy0 - FLOOR(fy0) AS dy
      FROM q
    ),
    ww AS (
      SELECT r, c, x0, y0,
             {wx},
             {wy}
      FROM base
    ),
    win AS (
      SELECT w.*, g.r AS gr, g.c AS gc, g.v AS v
      FROM ww w JOIN gpx g
        ON  g.r >= w.y0 + ({k0}) AND g.r <= w.y0 + ({k1 - 1})
        AND g.c >= w.x0 + ({k0}) AND g.c <= w.x0 + ({k1 - 1})
    ),
    piv AS (
      SELECT r, c,
             {wcarry},
             {piv}
      FROM win
      GROUP BY r, c, x0, y0
    )
    SELECT r, c,
           LEAST(GREATEST(CAST(FLOOR(({num}) / ({den}) + 0.5) AS BIGINT),
                          0), 255) AS value
    FROM piv
    ORDER BY r, c
"""


register(
    "warp_cubicspline",
    sql=_sep_kernel_sql("cubicspline"),
    desc="tile warp, cubic B-spline kernel (GWKBSpline, "
         "gdalwarpkernel.cpp:3523-3545): truncated-power weights over "
         "the 4x4 halo'd mosaic window, normalized by the weight sum",
)(_warp_query("cubicspline"))

register(
    "warp_lanczos",
    sql=_sep_kernel_sql("lanczos"),
    desc="tile warp, Lanczos windowed-sinc kernel radius 3 "
         "(GWKLanczosSinc, gdalwarpkernel.cpp:3383-3398): 6x6 window, "
         "sinc(x)*sinc(x/3) weights normalized by the weight sum",
)(_warp_query("lanczos"))


# area-footprint oracles: mode (GDAL GWKTS_First tie strategy — among
# max-count values the earliest to REACH that count in the y-major
# scan wins, i.e. smallest last-occurrence scan position) and the
# med/q1/q3 quantiles (sorted footprint value at ceil(q*n - 1),
# gdalwarpkernel.cpp:7603-7607 — no interpolation).
_FOOTPRINT_ON = """
      ON  g.c + 0.5e0 >= 2.5e0 * q.c AND g.c + 0.5e0 < 2.5e0 * q.c + 2.5e0
      AND g.r + 0.5e0 >= 2.5e0 * q.r AND g.r + 0.5e0 < 2.5e0 * q.r + 2.5e0
"""

_MODE_SQL = f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c, (((r.i * {GW} + c.i) * 7) % 256) // 32 AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    q AS (
      SELECT r.i AS r, c.i AS c
      FROM generate_series(0, {_WARP_DTS - 1}) r(i),
           generate_series(0, {_WARP_DTS - 1}) c(i)
    ),
    counts AS (
      SELECT q.r AS r, q.c AS c, CAST(g.v AS BIGINT) AS value,
             COUNT(*) AS cnt, MAX(g.r * {GW} + g.c) AS last_s
      FROM q JOIN gpx g
      {_FOOTPRINT_ON}
      GROUP BY q.r, q.c, g.v
    )
    SELECT r, c, value
    FROM counts
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY r, c ORDER BY cnt DESC, last_s ASC) = 1
    ORDER BY r, c
"""

register(
    "warp_mode",
    sql=_MODE_SQL,
    desc="tile warp, mode kernel (GWKAverageOrMode GWKAOM_Imode, "
         "gdalwarpkernel.cpp:7396-7427): most frequent footprint value "
         "on an 8-level quantized grid, GWKTS_First tie strategy",
)(_warp_query("mode", quantize=True))


def _quant_sql(quant: float) -> str:
    return f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c, ((r.i * {GW} + c.i) * 7) % 256 AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    q AS (
      SELECT r.i AS r, c.i AS c
      FROM generate_series(0, {_WARP_DTS - 1}) r(i),
           generate_series(0, {_WARP_DTS - 1}) c(i)
    )
    SELECT q.r, q.c,
           CAST(LIST(g.v ORDER BY g.v)
                [CAST(CEIL({quant} * COUNT(*) - 1) AS BIGINT) + 1]
                AS BIGINT) AS value
    FROM q JOIN gpx g
    {_FOOTPRINT_ON}
    GROUP BY q.r, q.c
    ORDER BY q.r, q.c
"""


register(
    "warp_med",
    sql=_quant_sql(0.5),
    desc="tile warp, median kernel (GWKAOM_Quant quant=0.5, "
         "gdalwarpkernel.cpp:7603-7607): sorted footprint value at "
         "ceil(0.5*n - 1), no interpolation",
)(_warp_query("med"))

register(
    "warp_q1",
    sql=_quant_sql(0.25),
    desc="tile warp, Q1 kernel (GWKAOM_Quant quant=0.25)",
)(_warp_query("q1"))

register(
    "warp_q3",
    sql=_quant_sql(0.75),
    desc="tile warp, Q3 kernel (GWKAOM_Quant quant=0.75)",
)(_warp_query("q3"))


# anti-aliased downsample (general-resampler path): 2.5x ratio ->
# scale 0.4, bilinear radius ceil(1/0.4)=3, taps -3..3 per axis,
# weights max(0, 1-|(i-dx)*0.4|), normalized over the window.
# Interior projection (r,c in 1..19) keeps every window in-grid.
def _aa_bilinear_sql() -> str:
    taps = list(range(-3, 4))

    def w(var, i):
        return f"GREATEST(0.0, 1.0 - ABS((({i}) - {var}) * 0.4))"

    wx = ",\n             ".join(f"{w('dx', i)} AS wx{i + 3}" for i in taps)
    wy = ",\n             ".join(f"{w('dy', i)} AS wy{i + 3}" for i in taps)
    piv = ",\n             ".join(
        f"SUM(CASE WHEN gr = y0 + ({iy}) AND gc = x0 + ({ix}) "
        f"THEN v END) AS v{ix + 3}_{iy + 3}"
        for iy in taps for ix in taps)
    num = " + ".join(f"(wx{ix + 3} * wy{iy + 3}) * v{ix + 3}_{iy + 3}"
                     for iy in taps for ix in taps)
    den = " + ".join(f"(wx{ix + 3} * wy{iy + 3})"
                     for iy in taps for ix in taps)
    return f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    q AS (
      SELECT r.i AS r, c.i AS c,
             (2.5 * c.i + 1.25) - 0.5 AS fx0,
             (2.5 * r.i + 1.25) - 0.5 AS fy0
      FROM generate_series(1, {_WARP_DTS - 1}) r(i),
           generate_series(1, {_WARP_DTS - 1}) c(i)
    ),
    base AS (
      SELECT r, c,
             CAST(FLOOR(fx0) AS BIGINT) AS x0, fx0 - FLOOR(fx0) AS dx,
             CAST(FLOOR(fy0) AS BIGINT) AS y0, fy0 - FLOOR(fy0) AS dy
      FROM q
    ),
    ww AS (
      SELECT r, c, x0, y0,
             {wx},
             {wy}
      FROM base
    ),
    win AS (
      SELECT w.*, g.r AS gr, g.c AS gc, g.v AS v
      FROM ww w JOIN gpx g
        ON  g.r >= w.y0 - 3 AND g.r <= w.y0 + 3
        AND g.c >= w.x0 - 3 AND g.c <= w.x0 + 3
    ),
    piv AS (
      SELECT r, c,
             {",".join(f"ANY_VALUE(wx{k}) AS wx{k}" for k in range(7))},
             {",".join(f"ANY_VALUE(wy{k}) AS wy{k}" for k in range(7))},
             {piv}
      FROM win
      GROUP BY r, c, x0, y0
    )
    SELECT r, c,
           LEAST(GREATEST(CAST(FLOOR(({num}) / ({den}) + 0.5) AS BIGINT),
                          0), 255) AS value
    FROM piv
    ORDER BY r, c
"""


def _warp_aa_query(method):
    from ..kernels.cells import TileGrid as _TG
    from ..operators.warp import warp_tiles

    def q(spark, sf_dir):
        src_grid = _TG(0.0, float(GW), float(GW), GW // 2)
        dst_grid = _TG(0.0, 64.0, 50.0, _WARP_DTS)
        out = warp_tiles(_pixel_tiles_df(spark), src_grid, 1, dst_grid, 0,
                         direction="identity", dtype="uint8",
                         src_tile_size=GW // 2, dst_tile_size=_WARP_DTS,
                         method=method, anti_alias=True)

        def _rows(batches):
            for pdf in batches:
                for _, rr in pdf.iterrows():
                    t = np.frombuffer(rr["px"], dtype=np.uint8).reshape(
                        _WARP_DTS, _WARP_DTS)
                    ys, xs = np.mgrid[0:_WARP_DTS, 0:_WARP_DTS]
                    m = (ys >= 1) & (xs >= 1)
                    yield pd.DataFrame({
                        "r": ys[m].ravel().astype(np.int64),
                        "c": xs[m].ravel().astype(np.int64),
                        "value": t[m].ravel().astype(np.int64),
                    })

        return out.select("px", "tx", "ty").mapInPandas(
            _rows, "r long, c long, value long").orderBy("r", "c")

    return q


register(
    "warp_bilinear_aa",
    sql=_aa_bilinear_sql(),
    desc="anti-aliased bilinear downsample (general resampler, "
         "gdalwarpkernel.cpp:1184/3733): radius ceil(1/scale), weights "
         "K((i-dx)*scale), window-normalized; 2.5x ratio fixture",
)(_warp_aa_query("bilinear"))


_MOSAIC_SQL = f"""
    WITH a AS (
      SELECT r.i AS r, c.i AS c, ((r.i * {GW} + c.i) * 7) % 256 AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    b AS (
      SELECT r.i AS r, c.i AS c,
             CASE WHEN (((r.i * {GW} + c.i) * 11) % 256) % 4 = 0 THEN 0
                  ELSE ((r.i * {GW} + c.i) * 11) % 256 END AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    )
    SELECT a.r, a.c,
           CAST(CASE WHEN b.v <> 0 THEN b.v ELSE a.v END AS BIGINT) AS value
    FROM a JOIN b ON b.r = a.r AND b.c = a.c
    ORDER BY a.r, a.c
"""


@register(
    "mosaic",
    sql=_MOSAIC_SQL,
    desc="gdal_merge.py overlay (osgeo_utils/gdal_merge.py:126-157): "
         "later source wins except where it equals nodata; one Arrow "
         "group per output tile, k vectorized overlays",
)
def mosaic_q(spark, sf_dir):
    from ..operators.raster_tile import mosaic_tiles

    ts = GW // 2
    idx = np.arange(GW * GW).reshape(GW, GW)
    a = ((idx * 7) % 256).astype(np.uint8)
    bv = ((idx * 11) % 256)
    b = np.where(bv % 4 == 0, 0, bv).astype(np.uint8)

    def _mk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(_split_2x2(a, ts, src=0)
                            + _split_2x2(b, ts, src=1))

    tiles = spark.range(1).withColumn("_g", F.lit(1)).groupBy(
        "_g").applyInPandas(_mk, "src int, tx long, ty long, px binary")
    out = mosaic_tiles(tiles, nodata=0.0, dtype="uint8", tile_size=ts)

    def _rows(batches):
        for pdf in batches:
            for _, rr in pdf.iterrows():
                t = np.frombuffer(rr["px"], dtype=np.uint8).reshape(ts, ts)
                ys, xs = np.mgrid[0:ts, 0:ts]
                yield pd.DataFrame({
                    "r": (int(rr["ty"]) * ts + ys).ravel(),
                    "c": (int(rr["tx"]) * ts + xs).ravel(),
                    "value": t.ravel().astype(np.int64),
                })

    return out.mapInPandas(
        _rows, "r long, c long, value long").orderBy("r", "c")


# ------------------------------------------------ color relief (r2)
_RAMP = [(0.0, 0, 0, 255), (64.0, 255, 0, 0),
         (160.0, 0, 255, 64), (255.0, 32, 64, 128)]


def _relief_chan_sql(b: int) -> str:
    """CASE chain mirroring GDALColorReliefGetRGBA interpolation."""
    segs = []
    c = [e[1 + b] for e in _RAMP]
    v = [e[0] for e in _RAMP]
    segs.append(f"WHEN v <= {v[0]} THEN CAST({c[0]} AS BIGINT)")
    for i in range(1, len(_RAMP)):
        expr = (f"LEAST(GREATEST(CAST(FLOOR(0.5 + {c[i-1]} + "
                f"((v - {v[i-1]}) / ({v[i]} - {v[i-1]})) "
                f"* ({c[i]} - {c[i-1]})) AS BIGINT), 0), 255)")
        segs.append(f"WHEN v <= {v[i]} THEN {expr}")
    segs.append(f"ELSE CAST({c[-1]} AS BIGINT)")
    return "CASE " + " ".join(segs) + " END"


_RELIEF_SQL = f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    )
    SELECT b.i AS band, r, c,
           CASE b.i WHEN 1 THEN {_relief_chan_sql(0)}
                    WHEN 2 THEN {_relief_chan_sql(1)}
                    ELSE {_relief_chan_sql(2)} END AS value
    FROM gpx, generate_series(1, 3) b(i)
    ORDER BY band, r, c
"""


@register(
    "color_relief",
    sql=_RELIEF_SQL,
    desc="gdaldem color-relief (gdaldem_lib.cpp GDALColorReliefGetRGBA, "
         "interpolate mode): ramp lookup + per-channel linear "
         "interpolation clamp(int(0.5+...)), tile-local, no shuffle",
)
def color_relief_q(spark, sf_dir):
    from ..operators.raster_calc import color_relief_tiles

    out = color_relief_tiles(_pixel_tiles_df(spark), _RAMP,
                             tile_size=GW // 2)
    ts = GW // 2

    def _rows(batches):
        for pdf in batches:
            for _, rr in pdf.iterrows():
                t = np.frombuffer(rr["px"], dtype=np.uint8).reshape(ts, ts)
                ys, xs = np.mgrid[0:ts, 0:ts]
                yield pd.DataFrame({
                    "band": np.full(ts * ts, int(rr["band"]),
                                    dtype=np.int64),
                    "r": (int(rr["ty"]) * ts + ys).ravel(),
                    "c": (int(rr["tx"]) * ts + xs).ravel(),
                    "value": t.ravel().astype(np.int64),
                })

    return out.mapInPandas(
        _rows, "band long, r long, c long, value long"
    ).orderBy("band", "r", "c")


def _area_kernel_sql(agg_expr: str) -> str:
    return f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c, ((r.i * {GW} + c.i) * 7) % 256 AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    q AS (
      SELECT r.i AS r, c.i AS c
      FROM generate_series(0, {_WARP_DTS - 1}) r(i),
           generate_series(0, {_WARP_DTS - 1}) c(i)
    )
    SELECT q.r, q.c, {agg_expr} AS value
    FROM q JOIN gpx g
      ON  g.c + 0.5e0 >= 2.5e0 * q.c AND g.c + 0.5e0 < 2.5e0 * q.c + 2.5e0
      AND g.r + 0.5e0 >= 2.5e0 * q.r AND g.r + 0.5e0 < 2.5e0 * q.r + 2.5e0
    GROUP BY q.r, q.c
    ORDER BY q.r, q.c
"""


register(
    "warp_sum",
    sql=_area_kernel_sql(
        "LEAST(GREATEST(CAST(FLOOR(SUM(CAST(g.v AS DOUBLE)) + 0.5) "
        "AS BIGINT), 0), 255)"),
    desc="tile warp, area-sum kernel (GWKAverageOrMode GRA_Sum role): "
         "clamped byte sum of footprint pixels",
)(_warp_query("sum"))

register(
    "warp_min",
    sql=_area_kernel_sql("CAST(MIN(g.v) AS BIGINT)"),
    desc="tile warp, area-min kernel (GRA_Min)",
)(_warp_query("min"))

register(
    "warp_max",
    sql=_area_kernel_sql("CAST(MAX(g.v) AS BIGINT)"),
    desc="tile warp, area-max kernel (GRA_Max)",
)(_warp_query("max"))

register(
    "warp_rms",
    sql=_area_kernel_sql(
        "LEAST(GREATEST(CAST(FLOOR(SQRT(SUM(CAST(g.v AS DOUBLE) * g.v) "
        "/ COUNT(*)) + 0.5) AS BIGINT), 0), 255)"),
    desc="tile warp, area-RMS kernel (GRA_RMS): sqrt(mean of squares) "
         "over the footprint",
)(_warp_query("rms"))


# ------------------------------------------------------- histogram
_HIST_MIN, _HIST_MAX, _HIST_N = 10.0, 200.0, 19
_HIST_SCALE = _HIST_N / (_HIST_MAX - _HIST_MIN)


@register(
    "raster_histogram",
    sql=f"""
    WITH px AS (
      SELECT CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    idx AS (
      SELECT CASE WHEN f < 0 THEN 0
                  WHEN f >= {_HIST_N} THEN {_HIST_N - 1}
                  ELSE CAST(f AS INTEGER) END AS bucket
      FROM (SELECT FLOOR((v - {_HIST_MIN!r}::DOUBLE) * {_HIST_SCALE!r}::DOUBLE) AS f
            FROM px)
    ),
    cnts AS (SELECT bucket, COUNT(*) AS cnt FROM idx GROUP BY bucket)
    SELECT 0 AS band, b.i AS bucket, COALESCE(c.cnt, 0) AS cnt
    FROM generate_series(0, {_HIST_N - 1}) b(i)
    LEFT JOIN cnts c ON c.bucket = b.i
    ORDER BY bucket
    """,
    desc="raster histogram (GDALRasterBand::GetHistogram, "
         "gdalrasterband.cpp:4226,4462-4477): per-tile bincount "
         "partials, bucket-keyed merge, include-out-of-range clamp "
         "into the end buckets; empty buckets densified to 0",
)
def raster_histogram_q(spark, sf_dir):
    from ..operators.raster_tile import raster_histogram

    tiles = _pixel_tiles_df(spark)
    out = raster_histogram(tiles, _HIST_MIN, _HIST_MAX, _HIST_N,
                           include_out_of_range=True, dtype="uint8")
    return out.select(
        F.col("band").cast("int").alias("band"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("cnt").cast("long").alias("cnt"),
    ).orderBy("bucket")


# --------------------------------------------- focal kernel battery
# The remaining gdaldem kernels (slope/aspect/TPI/TRI/roughness,
# apps/gdaldem_lib.cpp; Horn gradient :170, TPI/TRI/roughness per
# kernels/focal.py) oracle-checked against the same 3x3 self-join.
_GX = "(((w0.v + 2*w3.v + w6.v) - (w2.v + 2*w5.v + w8.v)) / (8.0*2.0))"
_GY = "(((w0.v + 2*w1.v + w2.v) - (w6.v + 2*w7.v + w8.v)) / (8.0*3.0))"

_FOCAL_SQL = {
    "slope": f"degrees(atan(sqrt({_GX}*{_GX} + {_GY}*{_GY})))",
    "aspect": f"""CASE WHEN {_GX} = 0.0 AND {_GY} = 0.0 THEN NULL ELSE
        CASE WHEN degrees(atan2({_GY}, -{_GX})) > 90.0
             THEN 450.0 - degrees(atan2({_GY}, -{_GX}))
             ELSE 90.0 - degrees(atan2({_GY}, -{_GX})) END END""",
    "tpi": "(w4.v - (w0.v+w1.v+w2.v+w3.v+w5.v+w6.v+w7.v+w8.v)/8.0)",
    "tri": ("((abs(w4.v-w0.v)+abs(w4.v-w1.v)+abs(w4.v-w2.v)+abs(w4.v-w3.v)"
            "+abs(w4.v-w5.v)+abs(w4.v-w6.v)+abs(w4.v-w7.v)+abs(w4.v-w8.v))"
            "/8.0)"),
    "roughness": ("(GREATEST(w0.v,w1.v,w2.v,w3.v,w4.v,w5.v,w6.v,w7.v,w8.v)"
                  " - LEAST(w0.v,w1.v,w2.v,w3.v,w4.v,w5.v,w6.v,w7.v,w8.v))"),
}

_FOCAL_REF = {
    "slope": "gdaldem_lib.cpp slope (Horn gradient -> atan, degrees)",
    "aspect": "gdaldem_lib.cpp aspect (atan2, compass rotation; flat=NULL)",
    "tpi": "gdaldem_lib.cpp TPI (center minus 8-neighbor mean)",
    "tri": "gdaldem_lib.cpp TRI Wilson (mean |center - neighbor|)",
    "roughness": "gdaldem_lib.cpp roughness (window max - min)",
}


def _focal_query(kernel):
    import pandas as pd
    from typing import Iterator as _It

    def q(spark, sf_dir):
        from ..operators.focal import focal_tiles

        ts = GW // 2

        def _mk_tiles(key, pdf: pd.DataFrame) -> pd.DataFrame:
            a = np.zeros(GW * GW, dtype=np.float64)
            a[pdf["idx"].to_numpy()] = pdf["v"].to_numpy()
            return pd.DataFrame(_split_2x2(a.reshape(GW, GW), ts))

        px = _derived_grid_df(spark)
        tiles = px.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
            _mk_tiles, "tx long, ty long, px binary")
        out = focal_tiles(tiles, kernel, zoom=1, ewres=2.0, nsres=3.0,
                          dtype="float64", tile_size=ts, out_dtype="float64")

        def _to_rows(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
            for pdf in batches:
                for _, rr in pdf.iterrows():
                    tile = np.frombuffer(
                        rr["px"], dtype=np.float64).reshape(ts, ts)
                    ys, xs = np.mgrid[0:ts, 0:ts]
                    vals = np.round(tile.ravel(), 6)
                    out_pdf = pd.DataFrame({
                        "r": rr["ty"] * ts + ys.ravel(),
                        "c": rr["tx"] * ts + xs.ravel(),
                        "out": vals,
                    })
                    # NaN (flat aspect / global edge) -> NULL, matching
                    # the oracle's CASE NULL and healing the hash compare
                    out_pdf["out"] = out_pdf["out"].astype(object).where(
                        ~np.isnan(vals), None)
                    yield out_pdf

        rows = out.select("tx", "ty", "px").mapInPandas(
            _to_rows, "r long, c long, out double")
        return rows.filter(
            (F.col("r") >= 1) & (F.col("r") <= GW - 2)
            & (F.col("c") >= 1) & (F.col("c") <= GW - 2)
        ).orderBy("r", "c")

    return q


for _k in ("slope", "aspect", "tpi", "tri", "roughness"):
    register(
        f"focal_{_k}",
        sql=f"""
        WITH px AS (
          SELECT r.i AS r, c.i AS c,
                 CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
          FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
        )
        SELECT a.r, a.c, ROUND({_FOCAL_SQL[_k]}, 6) AS out
        FROM px a
          {_neighbor_joins()}
        WHERE a.r BETWEEN 1 AND {GW - 2} AND a.c BETWEEN 1 AND {GW - 2}
        ORDER BY a.r, a.c
        """,
        desc=f"gdaldem {_k} ({_FOCAL_REF[_k]}) via distributed halo "
             "exchange; interior oracle-checked against a 3x3 SQL self-join",
    )(_focal_query(_k))


# -------------------------------------------------- nearblack
_nearblack_reg = register(
    "nearblack",
    sql=f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c, ((r.i * {GW} + c.i) * 7) % 256 AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    nn AS (SELECT r, c, v, (v > 15) AS bad FROM gpx),
    col AS (
      SELECT r, c, v, bad,
        SUM(CASE WHEN bad THEN 1 ELSE 0 END)
          OVER (PARTITION BY c ORDER BY r) = 0 AS clr_d,
        SUM(CASE WHEN bad THEN 1 ELSE 0 END)
          OVER (PARTITION BY c ORDER BY r DESC) = 0 AS clr_u
      FROM nn
    ),
    hz AS (
      SELECT r, c, v, bad, clr_d, clr_u,
        MAX(CASE WHEN bad THEN c END) OVER
          (PARTITION BY r ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS nn_l,
        MAX(CASE WHEN clr_d THEN c END) OVER
          (PARTITION BY r ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cd_l,
        MAX(CASE WHEN clr_u THEN c END) OVER
          (PARTITION BY r ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cu_l,
        MIN(CASE WHEN bad THEN c END) OVER
          (PARTITION BY r ORDER BY c DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS nn_r,
        MIN(CASE WHEN clr_d THEN c END) OVER
          (PARTITION BY r ORDER BY c DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cd_r,
        MIN(CASE WHEN clr_u THEN c END) OVER
          (PARTITION BY r ORDER BY c DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cu_r
      FROM col
    ),
    bl AS (
      SELECT r, c, v,
        (clr_d OR clr_u
         OR (NOT bad AND c <= {GW - 2}
             AND COALESCE(cd_l, -1) > COALESCE(nn_l, -2))
         OR (NOT bad AND c <= {GW - 2}
             AND COALESCE(cu_l, -1) > COALESCE(nn_l, -2))
         OR (NOT bad AND c >= 1
             AND COALESCE(cd_r, {GW + 1}) < COALESCE(nn_r, {GW + 2}))
         OR (NOT bad AND c >= 1
             AND COALESCE(cu_r, {GW + 1}) < COALESCE(nn_r, {GW + 2}))
        ) AS black
      FROM hz
    )
    SELECT r, c,
           CASE WHEN black THEN 0 ELSE v END AS out_v,
           CAST(CASE WHEN black THEN 0 ELSE 255 END AS BIGINT) AS mask
    FROM bl ORDER BY r, c
    """,
    desc="nearblack collar removal (apps/nearblack_lib.cpp:360-745) — "
         "two-pass flood from the raster edges distributed as a "
         "parallel-prefix scan over row strips; for max_non_black=0 the "
         "serial recurrences reduce to window functions (vertical: "
         "cumulative non-near count == 0; horizontal do-test state: last "
         "clear-column position beats last non-near position), giving a "
         "fully independent SQL oracle",
)


def nearblack_q(spark, sf_dir):
    from ..operators.nearblack import nearblack_tiles

    ts = GW // 2
    out = nearblack_tiles(_pixel_tiles_df(spark), ntx=2, nty=2,
                          tile_size=ts, near_dist=15, max_non_black=0)

    def _rows(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            for _, rr in pdf.iterrows():
                t = np.frombuffer(rr["px"], dtype=np.uint8).reshape(ts, ts)
                m = np.frombuffer(rr["mask"], dtype=np.uint8).reshape(ts, ts)
                ys, xs = np.mgrid[0:ts, 0:ts]
                yield pd.DataFrame({
                    "r": (rr["ty"] * ts + ys).ravel(),
                    "c": (rr["tx"] * ts + xs).ravel(),
                    "out_v": t.ravel().astype(np.int64),
                    "mask": m.ravel().astype(np.int64)})

    return (out.mapInPandas(_rows, "r long, c long, out_v long, mask long")
            .orderBy("r", "c"))


_nearblack_reg(nearblack_q)


# --------------------------------------- gdaldem variant battery
# ZevenbergenThorne gradient (-alg ZevenbergenThorne,
# gdaldem_lib.cpp:795-803) and the hillshade variants -combined
# (:1139), -multidirectional (:1237), -igor (:942), oracle-checked
# against the same 3x3 self-join.  ewres=2, nsres=3, z=1, az=315,
# alt=45 as in the Horn battery.
_GXZ = "((w3.v - w5.v) / (2.0*2.0))"
_GYZ = "((w1.v - w7.v) / (2.0*3.0))"


def _hs_sql(gx, gy):
    num = (f"(sin(radians(45.0)) - ({gy} * cos(radians(315.0)) * "
           f"cos(radians(45.0)) - {gx} * sin(radians(315.0)) * "
           f"cos(radians(45.0))))")
    cang = f"({num} / sqrt(1.0 + {gx}*{gx} + {gy}*{gy}))"
    return f"CASE WHEN {cang} <= 0.0 THEN 1.0 ELSE 1.0 + 254.0 * {cang} END"


def _hs_combined_sql(gx, gy):
    num = (f"(sin(radians(45.0)) - ({gy} * cos(radians(315.0)) * "
           f"cos(radians(45.0)) - {gx} * sin(radians(315.0)) * "
           f"cos(radians(45.0))))")
    slope = f"({gx}*{gx} + {gy}*{gy})"
    cang0 = f"acos(LEAST(GREATEST({num} / sqrt(1.0 + {slope}), -1.0), 1.0))"
    cang = f"(1.0 - {cang0} * atan(sqrt({slope})) * (4.0/(pi()*pi())))"
    return f"CASE WHEN {cang} <= 0.0 THEN 1.0 ELSE 1.0 + 254.0 * {cang} END"


def _hs_multi_sql(gx, gy):
    s127 = "(127.0 * sin(radians(45.0)))"
    cz127 = "(127.0 * cos(radians(45.0)))"
    c225 = f"(cos(radians(225.0)) * {cz127})"
    xxyy = f"({gx}*{gx} + {gy}*{gy})"
    v225 = f"GREATEST(0.0, {s127} + ({gx} - {gy}) * {c225})"
    v270 = f"GREATEST(0.0, {s127} - {gx} * {cz127})"
    v315 = f"GREATEST(0.0, {s127} + ({gx} + {gy}) * {c225})"
    v360 = f"GREATEST(0.0, {s127} - {gy} * {cz127})"
    w225 = f"(0.5*{xxyy} - {gx}*{gy})"
    w315 = f"({xxyy} - {w225})"
    acc = (f"({w225}*{v225} + ({gx}*{gx})*{v270} + {w315}*{v315}"
           f" + ({gy}*{gy})*{v360})")
    return (f"CASE WHEN {xxyy} = 0.0 THEN 1.0 + 2.0*{s127} "
            f"ELSE 1.0 + ({acc}/{xxyy})/sqrt(1.0 + {xxyy}) END")


def _hs_igor_sql(gx, gy):
    slope_deg = f"degrees(atan(sqrt({gx}*{gx}+{gy}*{gy})))"
    dx = "((w2.v + 2*w5.v + w8.v) - (w0.v + 2*w3.v + w6.v))"
    dy2 = "((w6.v + 2*w7.v + w8.v) - (w0.v + 2*w1.v + w2.v))"
    asp = f"atan2({dy2}, -({dx}))"
    n1 = f"(CASE WHEN {asp} < 0.0 THEN {asp} + 2.0*pi() ELSE {asp} END)"
    diff = f"abs({n1} - 7.0*pi()/4.0)"
    d2 = f"(CASE WHEN {diff} > pi() THEN 2.0*pi() - {diff} ELSE {diff} END)"
    return f"255.0 * (1.0 - ({slope_deg}/90.0) * (1.0 - {d2}/pi()))"


_FOCAL_SQL.update({
    "slope_zt": f"degrees(atan(sqrt({_GXZ}*{_GXZ} + {_GYZ}*{_GYZ})))",
    "aspect_zt": f"""CASE WHEN {_GXZ} = 0.0 AND {_GYZ} = 0.0 THEN NULL ELSE
        CASE WHEN degrees(atan2({_GYZ}, -{_GXZ})) > 90.0
             THEN 450.0 - degrees(atan2({_GYZ}, -{_GXZ}))
             ELSE 90.0 - degrees(atan2({_GYZ}, -{_GXZ})) END END""",
    "hillshade_zt": _hs_sql(_GXZ, _GYZ),
    "hillshade_combined": _hs_combined_sql(_GX, _GY),
    "hillshade_multidirectional": _hs_multi_sql(_GX, _GY),
    "hillshade_igor": _hs_igor_sql(_GX, _GY),
})

_FOCAL_REF.update({
    "slope_zt": "gdaldem slope -alg ZevenbergenThorne (:795)",
    "aspect_zt": "gdaldem aspect -alg ZevenbergenThorne (:795)",
    "hillshade_zt": "gdaldem hillshade -alg ZevenbergenThorne (:795,1180)",
    "hillshade_combined": "gdaldem hillshade -combined (:1139-1167)",
    "hillshade_multidirectional":
        "gdaldem hillshade -multidirectional (:1237-1296)",
    "hillshade_igor": "gdaldem hillshade -igor (:942-1000)",
})

for _k in ("slope_zt", "aspect_zt", "hillshade_zt", "hillshade_combined",
           "hillshade_multidirectional", "hillshade_igor"):
    register(
        f"focal_{_k}",
        sql=f"""
        WITH px AS (
          SELECT r.i AS r, c.i AS c,
                 CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
          FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
        )
        SELECT a.r, a.c, ROUND({_FOCAL_SQL[_k]}, 6) AS out
        FROM px a
          {_neighbor_joins()}
        WHERE a.r BETWEEN 1 AND {GW - 2} AND a.c BETWEEN 1 AND {GW - 2}
        ORDER BY a.r, a.c
        """,
        desc=f"{_FOCAL_REF[_k]} via distributed halo exchange; interior "
             "oracle-checked against a 3x3 SQL self-join",
    )(_focal_query(_k))


# -------------------------------------------------- histogram equalization
_equalize_reg = register(
    "equalize",
    sql=f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c, ((r.i * {GW} + c.i) * 7) % 256 AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    h AS (SELECT v AS bucket, COUNT(*) AS cnt FROM gpx GROUP BY v),
    dense AS (
      SELECT i.bucket, COALESCE(h.cnt, 0) AS cnt
      FROM generate_series(0, 255) i(bucket) LEFT JOIN h USING (bucket)
    ),
    z AS (
      SELECT bucket,
             CASE WHEN bucket IN (0, 255) THEN 0 ELSE cnt END AS cnt
      FROM dense
    ),
    cm AS (
      SELECT bucket,
             COALESCE(SUM(cnt) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt // 2 AS cum,
             SUM(cnt) OVER () AS total
      FROM z
    ),
    lut AS (
      SELECT bucket,
             LEAST(255, GREATEST(0, (cum * 256) // total)) AS out_v
      FROM cm
    )
    SELECT g.r, g.c, CAST(l.out_v AS BIGINT) AS out_v
    FROM gpx g JOIN lut l ON l.bucket = g.v
    ORDER BY g.r, g.c
    """,
    desc="histogram equalization (gdalenhance -equalize, "
         "apps/gdalenhance.cpp:364-460): zeroed-extremes histogram, "
         "half-bin cumulative, integer LUT clamp — distributed "
         "GetHistogram partials + driver LUT fold + broadcast tile map; "
         "oracle mirrors every integer division in SQL",
)


def equalize_q(spark, sf_dir):
    from ..operators.raster_calc import equalize_tiles

    ts = GW // 2
    out = equalize_tiles(_pixel_tiles_df(spark), tile_size=ts)

    def _rows(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            for _, rr in pdf.iterrows():
                a = np.frombuffer(rr["px"], dtype=np.uint8).reshape(ts, ts)
                ys, xs = np.mgrid[0:ts, 0:ts]
                yield pd.DataFrame({
                    "r": (rr["ty"] * ts + ys).ravel(),
                    "c": (rr["tx"] * ts + xs).ravel(),
                    "out_v": a.ravel().astype(np.int64)})

    return (out.mapInPandas(_rows, "r long, c long, out_v long")
            .orderBy("r", "c"))


_equalize_reg(equalize_q)


# -------------------------------------------------- translate -scale
def _translate_rows_fn(exponent):
    def q(spark, sf_dir):
        from ..operators.raster_calc import translate_scale_tiles

        ts = GW // 2
        out = translate_scale_tiles(
            _pixel_tiles_df(spark),
            dst_min=50.0, dst_max=150.0, exponent=exponent,
            tile_size=ts)

        def _rows(batches: "Iterator[pd.DataFrame]") \
                -> "Iterator[pd.DataFrame]":
            for pdf in batches:
                for _, rr in pdf.iterrows():
                    a = np.frombuffer(rr["px"], dtype=np.float64) \
                        .reshape(ts, ts)
                    ys, xs = np.mgrid[0:ts, 0:ts]
                    yield pd.DataFrame({
                        "r": (rr["ty"] * ts + ys).ravel(),
                        "c": (rr["tx"] * ts + xs).ravel(),
                        "out_v": np.round(a, 6).ravel()})

        return (out.mapInPandas(_rows, "r long, c long, out_v double")
                .orderBy("r", "c"))
    return q


register(
    "translate_scale",
    sql=f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    mm AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM gpx)
    SELECT g.r, g.c,
           ROUND(g.v * ((150.0 - 50.0) / (mx - mn))
                 + (-1 * mn * ((150.0 - 50.0) / (mx - mn)) + 50.0), 6)
             AS out_v
    FROM gpx g CROSS JOIN mm ORDER BY g.r, g.c
    """,
    desc="gdal_translate -scale (gdal_translate_lib.cpp:2245-2247 + "
         "vrtsources.cpp linear scaling): auto src min/max via "
         "distributed per-tile partials, v*scale+offset tile map",
)(_translate_rows_fn(None))


register(
    "translate_exponent",
    sql=f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
      FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    ),
    mm AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM gpx)
    SELECT g.r, g.c,
           ROUND((150.0 - 50.0)
                 * POW(LEAST(GREATEST((g.v - mn) / (mx - mn), 0.0), 1.0),
                       2.0) + 50.0, 6) AS out_v
    FROM gpx g CROSS JOIN mm ORDER BY g.r, g.c
    """,
    desc="gdal_translate -scale -exponent 2 (vrtsources.cpp:3621-3637 "
         "SetPowerScaling): normalized-and-clipped power ramp into the "
         "dst range",
)(_translate_rows_fn(2.0))


# ----------------------------------------------- rasterize -i (invert)
@register(
    "rasterize_invert",
    sql=f"""
    WITH pts AS (
      SELECT DISTINCT ((k.i * 29) % 640) // 10 AS x,
             ((k.i * 37) % 640) // 10 AS y
      FROM generate_series(0, {_RQ_N - 1}) k(i)
    ),
    allpx AS (
      SELECT c.i AS x, r.i AS y
      FROM generate_series(0, 63) r(i), generate_series(0, 63) c(i)
    ),
    px AS (
      SELECT a.x, a.y,
             CASE WHEN p.x IS NULL THEN 5 ELSE 0 END AS v
      FROM allpx a LEFT JOIN pts p ON p.x = a.x AND p.y = a.y
    )
    SELECT x // 32 AS tx, y // 32 AS ty,
           CAST(SUM(v % ({_PRIMES})[{_RQ_PRIME_IDX}]) AS BIGINT) & 65535
             AS checksum,
           CAST(SUM(CASE WHEN v = 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_burned,
           CAST(SUM(v) AS BIGINT) AS total
    FROM px GROUP BY x // 32, y // 32
    ORDER BY tx, ty
    """,
    desc="gdal_rasterize -i (GDALRasterizeLayers bInverse): burn lands "
         "on every pixel NOT covered by any geometry over the FULL "
         "tile universe (left join from the 4^zoom matrix); oracle = "
         "independent SQL anti-join pixel arithmetic + checksum fold",
)
def rasterize_invert_q(spark, sf_dir):
    from ..kernels import wkb as kwkb

    rows = []
    for k in range(_RQ_N):
        fx_ = ((k * 29) % 640) / 10.0
        fy = ((k * 37) % 640) / 10.0
        wx, wy = fx_, 64.0 - fy
        rows.append({"fid": k, "wkb": kwkb.wkb_point(wx, wy),
                     "xmin": wx, "ymin": wy, "xmax": wx, "ymax": wy})
    geoms = spark.createDataFrame(pd.DataFrame(rows))
    grid = TileGrid(0.0, 64.0, 64.0, tile_size=32)
    tiles = rasterize_tiles(geoms, grid, 1, burn=5.0, dtype="float64",
                            tile_size=32, invert=True)

    def _stats(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                a = np.frombuffer(r["px"], dtype=np.float64).reshape(
                    32, 32).astype(np.int64)
                yield pd.DataFrame({
                    "tx": [int(r["tx"])], "ty": [int(r["ty"])],
                    "checksum": [kck.checksum(a)],
                    "n_burned": [int((a == 5).sum())],
                    "total": [int(a.sum())],
                })

    return tiles.mapInPandas(
        _stats, "tx long, ty long, checksum long, n_burned long, "
        "total long").orderBy("tx", "ty")


# ------------------------------------------------------------ gdal2xyz
@register(
    "xyz_export",
    sql=f"""
    SELECT CAST(100.0 + (c.i + 0.5) * 0.5 AS DOUBLE) AS x,
           CAST(200.0 - (r.i + 0.5) * 0.5 AS DOUBLE) AS y,
           1 AS band,
           CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
    FROM generate_series(0, {GW - 1}) r(i), generate_series(0, {GW - 1}) c(i)
    WHERE ((r.i * {GW} + c.i) * 7) % 256 <> 0
    ORDER BY y DESC, x ASC
    """,
    desc="gdal2xyz export (gdal2xyz.py): tiles -> pixel-center "
         "(x, y, band, v) rows, -skipnodata semantics; map-only Arrow "
         "explode, zero shuffle; oracle re-derives centers from the "
         "geotransform formula",
)
def xyz_export_q(spark, sf_dir):
    from ..operators.raster_tile import xyz_rows

    ts = GW // 2
    px = _derived_grid_df(spark)

    def _mk_tiles(key, pdf: pd.DataFrame) -> pd.DataFrame:
        a = np.zeros(GW * GW, dtype=np.uint8)
        a[pdf["idx"].to_numpy()] = pdf["v"].to_numpy()
        return pd.DataFrame(_split_2x2(a.reshape(GW, GW), ts, z=1, band=1,
                                       checksum=0))

    tiles = px.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        _mk_tiles,
        "z int, tx long, ty long, band int, px binary, checksum long")
    # world: origin (100, 200), resolution 0.5 -> zoom-1 tile span 16
    grid = TileGrid(100.0, 200.0, 32.0, tile_size=ts)
    out = xyz_rows(tiles, grid, 1, dtype="uint8", tile_size=ts,
                   skip_value=0.0)
    return out.orderBy(F.col("y").desc(), F.col("x").asc())


# ------------------------------------------------------------ UTM tmerc
# Shared expression text: the SAME step strings drive the Spark plan
# (F.expr fold, whole-stage codegen) and the DuckDB oracle (CTE chain),
# so the Snyder-series formula structure is identical by construction;
# outputs are rounded in both engines to absorb libm trig ULPs.
from ..operators import tmerc as _tm  # noqa: E402

_TM_LON = ("-78.0 + 6.0 * (CAST((doc_id * 2654435761) % 1000003"
           " AS DOUBLE) / 1000003.0)")
_TM_LAT = ("0.5 + 83.0 * (CAST((doc_id * 40503 + 12345) % 1000003"
           " AS DOUBLE) / 1000003.0)")
_TM_X = ("200000.0 + 600000.0 * (CAST((doc_id * 2654435761) % 1000003"
         " AS DOUBLE) / 1000003.0)")
_TM_Y = ("10000.0 + 8990000.0 * (CAST((doc_id * 40503 + 12345) % 1000003"
         " AS DOUBLE) / 1000003.0)")


@register(
    "utm_forward",
    sql=_tm.steps_to_cte(
        f"SELECT doc_id, {_TM_LON} AS lon, {_TM_LAT} AS lat FROM documents",
        _tm.tmerc_forward_steps("lon", "lat", _tm.utm_lon0(18)),
        "SELECT doc_id, ROUND(tmx, 3) AS tmx, ROUND(tmy, 3) AS tmy"
        " FROM {last} ORDER BY doc_id"),
    desc="UTM zone 18N forward (gdalwarp -t_srs EPSG:32618 role, "
         "ogrct.cpp:2264 array transform): Snyder PP-1395 series as pure "
         "Column math; oracle runs the same step text as a DuckDB CTE chain",
)
def utm_forward_q(spark, sf_dir):
    from . import t as _t

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    base = (docs.withColumn("lon", F.expr(_TM_LON))
                .withColumn("lat", F.expr(_TM_LAT)))
    out = _tm.utm_forward(base, "lon", "lat", 18)
    return out.select(
        "doc_id", F.round("tmx", 3).alias("tmx"),
        F.round("tmy", 3).alias("tmy")).orderBy("doc_id")


@register(
    "utm_inverse",
    sql=_tm.steps_to_cte(
        f"SELECT doc_id, {_TM_X} AS e, {_TM_Y} AS n FROM documents",
        _tm.tmerc_inverse_steps("e", "n", _tm.utm_lon0(18)),
        "SELECT doc_id, ROUND(tmlon, 7) AS tmlon, ROUND(tmlat, 7) AS tmlat"
        " FROM {last} ORDER BY doc_id"),
    desc="UTM zone 18N inverse (EPSG:32618 -> 4326): footpoint-latitude "
         "series (Snyder 8-17..8-25) as pure Column math, same-text oracle",
)
def utm_inverse_q(spark, sf_dir):
    from . import t as _t

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    base = (docs.withColumn("e", F.expr(_TM_X))
                .withColumn("n", F.expr(_TM_Y)))
    out = _tm.utm_inverse(base, "e", "n", 18)
    return out.select(
        "doc_id", F.round("tmlon", 7).alias("tmlon"),
        F.round("tmlat", 7).alias("tmlat")).orderBy("doc_id")


# ------------------------------------------------------------ gdalcompare
@register(
    "raster_compare",
    sql=f"""
    WITH gpx AS (
      SELECT i,
             CAST((i * 7) % 256 AS DOUBLE) AS va,
             CAST((i * 13) % 256 AS DOUBLE) AS vb
      FROM generate_series(0, {GW * GW - 1}) t(i)
    )
    SELECT COUNT(*) AS n_pixels,
           CAST(SUM(CASE WHEN va <> vb THEN 1 ELSE 0 END) AS BIGINT)
             AS n_diff,
           MAX(abs(va - vb)) AS max_abs_diff,
           SUM(abs(va - vb)) AS sum_abs_diff
    FROM gpx
    """,
    desc="gdalcompare role (gdalcompare.py compare_band): tile-key "
         "equi-join of two rasters, Arrow per-tile partials, "
         "map-side-combinable global diff stats; oracle re-derives the "
         "diff over the generating formulas in SQL",
)
def raster_compare_q(spark, sf_dir):
    from ..operators.raster_tile import compare_tiles

    a, b = _two_band_tiles(spark)
    return compare_tiles(a, b, dtype="uint8")


# ------------------------------------------------------------ zonal stats
_ZS_ZONE = ("CASE WHEN r BETWEEN 2 AND 20 AND c BETWEEN 3 AND 30 THEN 1 "
            "WHEN r BETWEEN 25 AND 60 AND c BETWEEN 0 AND 40 THEN 2 "
            "WHEN r BETWEEN 5 AND 15 AND c BETWEEN 40 AND 63 THEN 3 "
            "ELSE 0 END")


@register(
    "zonal_stats",
    sql=f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS v
      FROM generate_series(0, {GW - 1}) r(i),
           generate_series(0, {GW - 1}) c(i)
    ),
    zoned AS (SELECT v, {_ZS_ZONE} AS zone FROM gpx)
    SELECT CAST(zone AS BIGINT) AS zone, COUNT(*) AS n_pixels,
           MIN(v) AS vmin, MAX(v) AS vmax,
           SUM(v) AS vsum, SUM(v) / COUNT(*) AS vmean
    FROM zoned WHERE zone <> 0 GROUP BY zone ORDER BY zone
    """,
    desc="zonal statistics (rasterize + ComputeStatistics composition): "
         "tile-key equi-join of value and zone rasters, Arrow per-tile "
         "bincount partials bounded by zones-per-tile, map-side-"
         "combinable merge; oracle re-derives zones + stats in SQL",
)
def zonal_stats_q(spark, sf_dir):
    from ..operators.raster_tile import zonal_stats

    ts = GW // 2
    values, _b = _two_band_tiles(spark)

    def _mk_zones(key, pdf: pd.DataFrame) -> pd.DataFrame:
        rr, cc = np.mgrid[0:GW, 0:GW]
        z = np.zeros((GW, GW), dtype=np.uint8)
        z[(rr >= 2) & (rr <= 20) & (cc >= 3) & (cc <= 30)] = 1
        z[(rr >= 25) & (rr <= 60) & (cc >= 0) & (cc <= 40)] = 2
        z[(rr >= 5) & (rr <= 15) & (cc >= 40) & (cc <= 63)] = 3
        return pd.DataFrame(_split_2x2(z, ts))

    zones = (spark.range(1).withColumn("_g", F.lit(1)).groupBy("_g")
             .applyInPandas(_mk_zones, "tx long, ty long, px binary"))
    out = zonal_stats(values, zones, dtype="uint8", zone_dtype="uint8")
    return out.select("zone", "n_pixels", "vmin", "vmax", "vsum",
                      "vmean").orderBy("zone")


# ----------------------------------------------------- contour cell segments
# Independent-SQL verification of the marching-squares CELL GEOMETRY
# (the stitched-polyline query `contour` keeps its serial golden; this
# pins the per-cell segment table + crossing interpolation + saddle
# rule + the tile-halo assembly end-to-end against pure SQL).
_MS_LEVEL = 128


@register(
    "contour_segments",
    sql=f"""
    WITH cells AS (
      SELECT r.i AS y, c.i AS x,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS DOUBLE) AS a,
             CAST(((r.i * {GW} + c.i + 1) * 7) % 256 AS DOUBLE) AS b,
             CAST((((r.i + 1) * {GW} + c.i) * 7) % 256 AS DOUBLE) AS cc,
             CAST((((r.i + 1) * {GW} + c.i + 1) * 7) % 256 AS DOUBLE) AS d
      FROM generate_series(0, {GW - 2}) r(i),
           generate_series(0, {GW - 2}) c(i)
    ),
    idxd AS (
      SELECT *,
             (CASE WHEN a >= {_MS_LEVEL} THEN 1 ELSE 0 END
            + CASE WHEN b >= {_MS_LEVEL} THEN 2 ELSE 0 END
            + CASE WHEN d >= {_MS_LEVEL} THEN 4 ELSE 0 END
            + CASE WHEN cc >= {_MS_LEVEL} THEN 8 ELSE 0 END) AS idx,
             ((a + b + cc + d) / 4.0 >= {_MS_LEVEL}) AS ctr
      FROM cells
    ),
    expand AS (
      SELECT *, unnest([0, 1]) AS k FROM idxd
    ),
    prs AS (
      SELECT *,
        CASE WHEN k = 0 THEN
          CASE idx WHEN 1 THEN 3 WHEN 14 THEN 0 WHEN 2 THEN 0
                   WHEN 13 THEN 1 WHEN 4 THEN 1 WHEN 11 THEN 2
                   WHEN 8 THEN 2 WHEN 7 THEN 3 WHEN 3 THEN 3
                   WHEN 12 THEN 1 WHEN 6 THEN 0 WHEN 9 THEN 2
                   WHEN 5 THEN 3 WHEN 10 THEN 0 ELSE NULL END
        ELSE CASE idx WHEN 5 THEN 1 WHEN 10 THEN 2 ELSE NULL END
        END AS ef,
        CASE WHEN k = 0 THEN
          CASE idx WHEN 1 THEN 0 WHEN 14 THEN 3 WHEN 2 THEN 1
                   WHEN 13 THEN 0 WHEN 4 THEN 2 WHEN 11 THEN 1
                   WHEN 8 THEN 3 WHEN 7 THEN 2 WHEN 3 THEN 1
                   WHEN 12 THEN 3 WHEN 6 THEN 2 WHEN 9 THEN 0
                   WHEN 5 THEN (CASE WHEN ctr THEN 0 ELSE 2 END)
                   WHEN 10 THEN (CASE WHEN ctr THEN 1 ELSE 3 END)
                   ELSE NULL END
        ELSE CASE idx WHEN 5 THEN (CASE WHEN ctr THEN 2 ELSE 0 END)
                      WHEN 10 THEN (CASE WHEN ctr THEN 3 ELSE 1 END)
                      ELSE NULL END
        END AS et
      FROM expand
    ),
    segs AS (
      SELECT
        CASE ef WHEN 0 THEN x + ({_MS_LEVEL} - a) / (b - a)
                WHEN 1 THEN CAST(x + 1 AS DOUBLE)
                WHEN 2 THEN x + ({_MS_LEVEL} - cc) / (d - cc)
                ELSE CAST(x AS DOUBLE) END AS x1,
        CASE ef WHEN 0 THEN CAST(y AS DOUBLE)
                WHEN 1 THEN y + ({_MS_LEVEL} - b) / (d - b)
                WHEN 2 THEN CAST(y + 1 AS DOUBLE)
                ELSE y + ({_MS_LEVEL} - a) / (cc - a) END AS y1,
        CASE et WHEN 0 THEN x + ({_MS_LEVEL} - a) / (b - a)
                WHEN 1 THEN CAST(x + 1 AS DOUBLE)
                WHEN 2 THEN x + ({_MS_LEVEL} - cc) / (d - cc)
                ELSE CAST(x AS DOUBLE) END AS x2,
        CASE et WHEN 0 THEN CAST(y AS DOUBLE)
                WHEN 1 THEN y + ({_MS_LEVEL} - b) / (d - b)
                WHEN 2 THEN CAST(y + 1 AS DOUBLE)
                ELSE y + ({_MS_LEVEL} - a) / (cc - a) END AS y2
      FROM prs WHERE ef IS NOT NULL
    )
    SELECT ROUND(x1, 6) AS x1, ROUND(y1, 6) AS y1,
           ROUND(x2, 6) AS x2, ROUND(y2, 6) AS y2
    FROM segs ORDER BY x1, y1, x2, y2
    """,
    desc="marching-squares cell segments at level 128 "
         "(alg/marching_squares/ square.h): >=-rule corner index, "
         "(level-va)/(vb-va) crossing interpolant, corner-average "
         "saddle rule — oracle RE-DERIVES the whole 16-case table + "
         "interpolation in SQL, pinning the tile-halo assembly",
)
def contour_segments_q(spark, sf_dir):
    from ..operators.contour import tile_segments

    ts = GW // 2
    a, _b = _two_band_tiles(spark)
    segs = tile_segments(a, [float(_MS_LEVEL)], dtype="uint8",
                         tile_size=ts)
    return segs.select(
        F.round("x1", 6).alias("x1"), F.round("y1", 6).alias("y1"),
        F.round("x2", 6).alias("x2"), F.round("y2", 6).alias("y2"),
    ).orderBy("x1", "y1", "x2", "y2")


# ----------------------------------------------------------- srcwin crop
_SW = dict(x0=5, y0=9, w=40, h=30)


@register(
    "translate_srcwin",
    sql=f"""
    WITH gpx AS (
      SELECT r.i AS r, c.i AS c,
             CAST(((r.i * {GW} + c.i) * 7) % 256 AS BIGINT) AS v
      FROM generate_series(0, {GW - 1}) r(i),
           generate_series(0, {GW - 1}) c(i)
    )
    SELECT r - {_SW['y0']} AS r, c - {_SW['x0']} AS c, v
    FROM gpx
    WHERE r >= {_SW['y0']} AND r < {_SW['y0'] + _SW['h']}
      AND c >= {_SW['x0']} AND c < {_SW['x0'] + _SW['w']}
    ORDER BY r, c
    """,
    desc="gdal_translate -srcwin role: tile-UNaligned window crop + "
         "re-origin via fragment rollup (Column tile pruning before any "
         "Python); oracle = SQL window arithmetic over the derived grid",
)
def translate_srcwin_q(spark, sf_dir):
    from typing import Iterator as _It

    from ..operators.raster_tile import translate_window

    ts = GW // 2
    a, _b = _two_band_tiles(spark)
    out = translate_window(a, tile_size=ts, out_tile_size=ts, **_SW)

    def _rows(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        for pdf in batches:
            for _, rr in pdf.iterrows():
                t = np.frombuffer(rr["px"], dtype=np.uint8).reshape(ts, ts)
                ys, xs = np.mgrid[0:ts, 0:ts]
                gr = rr["ty"] * ts + ys
                gc = rr["tx"] * ts + xs
                m = (gr < _SW["h"]) & (gc < _SW["w"])
                yield pd.DataFrame({
                    "r": gr[m].ravel(), "c": gc[m].ravel(),
                    "v": t[m].ravel().astype(np.int64)})

    return out.mapInPandas(_rows, "r long, c long, v long").orderBy("r", "c")


# ------------------------------------------------------------ UTM warp
# gdalwarp -t_srs EPSG:32618 role over tiles: src is a 64x64 lon/lat
# grid in zone 18, dst is the UTM meters grid.  The oracle re-derives
# EVERYTHING in SQL: dst pixel centers, the Snyder tmerc INVERSE
# (the same shared step text as operators/tmerc.py), and the
# nearest-neighbor source lookup with nodata outside the source.
def _utm_warp_setup():
    from ..kernels import geom as _kg

    lon0, lat0, lon1, lat1 = -77.0, 39.0, -76.0, 40.0
    span = (lon1 - lon0) * (1.0 + 1e-9)
    bx = np.array([lon0, lon1, lon0, lon1,
                   (lon0 + lon1) / 2.0, (lon0 + lon1) / 2.0, lon0, lon1])
    by = np.array([lat0, lat0, lat1, lat1, lat0, lat1,
                   (lat0 + lat1) / 2.0, (lat0 + lat1) / 2.0])
    ex, ny_ = _kg.tmerc_forward(bx, by, -75.0)
    e0, e1 = float(ex.min()), float(ex.max())
    n0, n1 = float(ny_.min()), float(ny_.max())
    dspan = max(e1 - e0, n1 - n0) * (1.0 + 1e-9)
    return dict(lon0=lon0, lat0=lat0, lon1=lon1, lat1=lat1,
                span=span, stlx=lon0, stly=lat0 + span,
                sres=span / 64.0, e0=e0, n0=n0,
                dtlx=e0, dtly=n0 + dspan, dres=dspan / 64.0)


_UW = _utm_warp_setup()


def _utm_warp_oracle():
    from ..operators import tmerc as _tm

    base = (f"SELECT r.i AS r, c.i AS c,"
            f" {_UW['dtlx']!r} + (CAST(c.i AS DOUBLE) + 0.5)"
            f" * {_UW['dres']!r} AS e,"
            f" {_UW['dtly']!r} - (CAST(r.i AS DOUBLE) + 0.5)"
            f" * {_UW['dres']!r} AS n"
            f" FROM generate_series(0, 63) r(i),"
            f" generate_series(0, 63) c(i)")
    final = (
        "SELECT r, c, CASE WHEN spx >= 0 AND spx < 64"
        " AND spy >= 0 AND spy < 64"
        " THEN CAST(((spy * 64 + spx) * 7) % 256 AS BIGINT)"
        " ELSE 0 END AS v FROM ("
        f"SELECT r, c,"
        f" CAST(floor((tmlon - {_UW['stlx']!r}) / {_UW['sres']!r})"
        f" AS BIGINT) AS spx,"
        f" CAST(floor(({_UW['stly']!r} - tmlat) / {_UW['sres']!r})"
        f" AS BIGINT) AS spy"
        " FROM {last}) ORDER BY r, c")
    return _tm.steps_to_cte(
        base, _tm.tmerc_inverse_steps("e", "n", -75.0), final)


@register(
    "warp_utm_near",
    sql=_utm_warp_oracle,
    desc="raster reprojection to UTM (gdalwarp -t_srs EPSG:32618, "
         "nearest): per-dst-tile back-projection through the Snyder "
         "tmerc inverse; oracle re-derives dst centers + the full "
         "inverse series (same shared step text) + the nearest lookup "
         "in SQL",
)
def warp_utm_near_q(spark, sf_dir):
    from typing import Iterator as _It

    from ..operators.warp import warp_tiles

    ts = 32
    src_grid = TileGrid.local(_UW["lon0"], _UW["lat0"],
                              _UW["lon1"], _UW["lat1"], tile_size=ts)
    dst_grid = TileGrid(_UW["dtlx"], _UW["dtly"],
                        (_UW["dtly"] - _UW["n0"]), tile_size=ts)
    a, _b = _two_band_tiles(spark)
    out = warp_tiles(a, src_grid, 1, dst_grid, 1,
                     direction="dst_utm18_src_ll", dtype="uint8",
                     src_tile_size=ts, dst_tile_size=ts,
                     nodata=0.0, method="near")

    def _rows(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        for pdf in batches:
            for _, rr in pdf.iterrows():
                t = np.frombuffer(rr["px"], dtype=np.uint8).reshape(ts, ts)
                ys, xs = np.mgrid[0:ts, 0:ts]
                yield pd.DataFrame({
                    "r": (rr["ty"] * ts + ys).ravel(),
                    "c": (rr["tx"] * ts + xs).ravel(),
                    "v": t.ravel().astype(np.int64)})

    return out.mapInPandas(_rows, "r long, c long, v long").orderBy("r", "c")


def _utm_inv_warp_oracle():
    """Inverse-direction warp oracle: dst lon/lat centers -> FORWARD
    tmerc (the same shared step text) -> nearest UTM source pixel."""
    from ..operators import tmerc as _tm

    base = (f"SELECT r.i AS r, c.i AS c,"
            f" {_UW['lon0']!r} + (CAST(c.i AS DOUBLE) + 0.5)"
            f" * {_UW['sres']!r} AS lon,"
            f" {_UW['stly']!r} - (CAST(r.i AS DOUBLE) + 0.5)"
            f" * {_UW['sres']!r} AS lat"
            f" FROM generate_series(0, 63) r(i),"
            f" generate_series(0, 63) c(i)")
    final = (
        "SELECT r, c, CASE WHEN spx >= 0 AND spx < 64"
        " AND spy >= 0 AND spy < 64"
        " THEN CAST(((spy * 64 + spx) * 7) % 256 AS BIGINT)"
        " ELSE 0 END AS v FROM ("
        f"SELECT r, c,"
        f" CAST(floor((tmx - {_UW['dtlx']!r}) / {_UW['dres']!r})"
        f" AS BIGINT) AS spx,"
        f" CAST(floor(({_UW['dtly']!r} - tmy) / {_UW['dres']!r})"
        f" AS BIGINT) AS spy"
        " FROM {last}) ORDER BY r, c")
    return _tm.steps_to_cte(
        base, _tm.tmerc_forward_steps("lon", "lat", -75.0), final)


@register(
    "warp_utm_inverse",
    sql=_utm_inv_warp_oracle,
    desc="raster warp FROM UTM back to lon/lat (gdalwarp -s_srs "
         "EPSG:32618, nearest): dst centers forward-projected through "
         "the shared tmerc step text; oracle fully SQL",
)
def warp_utm_inverse_q(spark, sf_dir):
    from typing import Iterator as _It

    from ..operators.warp import warp_tiles

    ts = 32
    # src raster lives on the UTM meters grid, dst on the lon/lat grid
    src_grid = TileGrid(_UW["dtlx"], _UW["dtly"],
                        (_UW["dtly"] - _UW["n0"]), tile_size=ts)
    dst_grid = TileGrid.local(_UW["lon0"], _UW["lat0"],
                              _UW["lon1"], _UW["lat1"], tile_size=ts)
    a, _b = _two_band_tiles(spark)
    out = warp_tiles(a, src_grid, 1, dst_grid, 1,
                     direction="dst_ll_src_utm18", dtype="uint8",
                     src_tile_size=ts, dst_tile_size=ts,
                     nodata=0.0, method="near")

    def _rows(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        for pdf in batches:
            for _, rr in pdf.iterrows():
                t = np.frombuffer(rr["px"], dtype=np.uint8).reshape(ts, ts)
                ys, xs = np.mgrid[0:ts, 0:ts]
                yield pd.DataFrame({
                    "r": (rr["ty"] * ts + ys).ravel(),
                    "c": (rr["tx"] * ts + xs).ravel(),
                    "v": t.ravel().astype(np.int64)})

    return out.mapInPandas(_rows, "r long, c long, v long").orderBy("r", "c")


# ------------------------------------------------------------ gdaltindex
@register(
    "tile_index",
    sql="""
    WITH tiles AS (
      SELECT doc_id % 8 AS tx, (doc_id // 8) % 8 AS ty FROM documents
    ),
    agg AS (
      SELECT tx, ty, COUNT(*) AS n_rows FROM tiles GROUP BY tx, ty
    ),
    b AS (
      SELECT tx, ty, n_rows,
             0.0 + CAST(tx AS DOUBLE) * 32.0 AS xmin,
             256.0 - CAST(ty AS DOUBLE) * 32.0 - 32.0 AS ymin,
             0.0 + CAST(tx AS DOUBLE) * 32.0 + 32.0 AS xmax,
             256.0 - CAST(ty AS DOUBLE) * 32.0 AS ymax
      FROM agg
    )
    SELECT '3/' || CAST(tx AS VARCHAR) || '/' || CAST(ty AS VARCHAR)
             AS location,
           tx, ty, n_rows, xmin, ymin, xmax, ymax,
           'POLYGON((' || CAST(xmin AS VARCHAR) || ' '
             || CAST(ymax AS VARCHAR) || ','
             || CAST(xmax AS VARCHAR) || ' ' || CAST(ymax AS VARCHAR) || ','
             || CAST(xmax AS VARCHAR) || ' ' || CAST(ymin AS VARCHAR) || ','
             || CAST(xmin AS VARCHAR) || ' ' || CAST(ymin AS VARCHAR) || ','
             || CAST(xmin AS VARCHAR) || ' ' || CAST(ymax AS VARCHAR) || '))'
             AS wkt
    FROM b ORDER BY tx, ty
    """,
    desc="gdaltindex role (gdaltindex_lib.cpp:1060-1072,1240): one index "
         "feature per tile — location key, envelope, extent polygon WKT in "
         "the reference's corner order; partial+final count aggregate, "
         "pure Column, no Python",
)
def tile_index_q(spark, sf_dir):
    from . import t as _t
    from ..operators.raster_tile import tile_index

    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 8).alias("tx"),
        (F.floor(F.col("doc_id") / 8) % 8).cast("long").alias("ty"))
    grid = TileGrid(0.0, 256.0, 256.0)
    return tile_index(docs, grid, 3).orderBy("tx", "ty")


@register(
    "contour_polygons",
    sql="""
    WITH grid AS (
      SELECT r.r, c.c,
             CASE WHEN r.r BETWEEN 34 AND 37 AND c.c BETWEEN 34 AND 37
                  THEN 99
                  ELSE GREATEST(ABS(r.r - 32), ABS(c.c - 32)) END AS v
      FROM (SELECT unnest(generate_series(0, 64)) AS r) r
      CROSS JOIN (SELECT unnest(generate_series(0, 64)) AS c) c
    ),
    banded AS (
      SELECT r, c,
             CASE WHEN v >= 90 AND v < 100 THEN 5
                  WHEN v >= 0  AND v < 8   THEN 1
                  WHEN v >= 8  AND v < 16  THEN 2
                  WHEN v >= 16 AND v < 24  THEN 3
                  WHEN v >= 24 AND v < 33  THEN 4
                  ELSE 0 END AS band
      FROM grid
    )
    SELECT CAST(band AS BIGINT) AS value,
           CAST(COUNT(*) AS BIGINT) AS pixel_count,
           -- closed-form ring counts for this fixture's geometry:
           -- band 1 is the centre square with the planted hole cut out
           -- (outer ring + hole ring), bands 2-4 are square annuli
           -- (outer + hole), band 5 is the solid planted square
           CAST(CASE WHEN band = 5 THEN 1 ELSE 2 END AS INT) AS n_rings
    FROM banded WHERE band <> 0
    GROUP BY band ORDER BY value
    """,
    desc="gdal_contour -p role (polygon bands between levels, "
         "apps/gdal_contour_bin.cpp -p / contour writer polygonize "
         "path): classify the DEM into level bands (reclassify_tiles, "
         "first-match ranges) then run the FULL distributed polygonize "
         "(per-tile CC -> cross-tile union-find -> ring assembly) on "
         "the banded raster.  Fixture: Chebyshev-cone DEM on a 65x65 "
         "grid (bands = nested square annuli, each one 4-connected "
         "component) with a planted high square cutting a hole in the "
         "centre band; oracle re-derives band membership and pixel "
         "counts relationally and states the annulus ring counts in "
         "closed form (solid square 1 ring, annulus/holed square 2)",
)
def contour_polygons_q(spark, sf_dir):
    import pandas as pd

    from ..operators.raster_calc import reclassify_tiles

    ts = 13
    rr, cc = np.mgrid[0:65, 0:65]
    dem = np.maximum(np.abs(rr - 32), np.abs(cc - 32)).astype(np.uint8)
    dem[34:38, 34:38] = 99                 # planted square -> hole in band 1
    rows = []
    for ty in range(5):
        for tx in range(5):
            rows.append({"tx": tx, "ty": ty,
                         "px": dem[ty * ts:(ty + 1) * ts,
                                   tx * ts:(tx + 1) * ts].tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    banded = reclassify_tiles(
        tiles,
        ranges=[(90.0, 100.0, 5), (0.0, 8.0, 1), (8.0, 16.0, 2),
                (16.0, 24.0, 3), (24.0, 33.0, 4)],
        default=0, tile_size=ts)
    out = polygonize_tiles(banded, tile_size=ts, nodata=0)
    return out.select(F.col("value").cast("long").alias("value"),
                      F.col("pixel_count").cast("long").alias("pixel_count"),
                      F.col("n_rings").cast("int").alias("n_rings")) \
              .orderBy("value")
