"""Column-level spatial functions (pure Catalyst, JVM-side).

Cell encoding and Hilbert keys are the per-row hot path of every
spatial join at 10^12-doc scale, so they are expressed as Column
arithmetic — whole-stage-codegen'd by Tungsten, never touching
Python.  The numpy twins in gdal_spark.kernels are the oracle;
tests assert bit-equality between the two.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.cells import TileGrid, X_SHIFT, Z_SHIFT


def tile_xy_cols(grid: TileGrid, z: int, x: Column, y: Column):
    """Tile (tx, ty) of world points — Column twin of TileGrid.tile_xy."""
    ts = grid.tile_span(z)
    n = (1 << z) - 1
    tx = F.floor((x - F.lit(grid.top_left_x)) / F.lit(ts))
    ty = F.floor((F.lit(grid.top_left_y) - y) / F.lit(ts))
    tx = F.greatest(F.lit(0), F.least(F.lit(n), tx)).cast("long")
    ty = F.greatest(F.lit(0), F.least(F.lit(n), ty)).cast("long")
    return tx, ty


def pack_cell_col(z, tx: Column, ty: Column) -> Column:
    """Column twin of kernels.cells.pack_cell."""
    zc = z if isinstance(z, Column) else F.lit(int(z)).cast("long")
    return (
        F.shiftleft(zc, Z_SHIFT)
        .bitwiseOR(F.shiftleft(tx.cast("long"), X_SHIFT))
        .bitwiseOR(ty.cast("long"))
    )


def cell_col(grid: TileGrid, z: int, x: Column, y: Column) -> Column:
    tx, ty = tile_xy_cols(grid, z, x, y)
    return pack_cell_col(z, tx, ty)


def cell_z_col(cell: Column) -> Column:
    return F.shiftrightunsigned(cell, Z_SHIFT)


def cell_x_col(cell: Column) -> Column:
    return F.shiftrightunsigned(cell, X_SHIFT).bitwiseAND(F.lit((1 << 29) - 1))


def cell_y_col(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit((1 << 29) - 1))


def parent_cell_col(cell: Column) -> Column:
    z = cell_z_col(cell)
    return pack_cell_col(z - 1, F.shiftrightunsigned(cell_x_col(cell), 1),
                         F.shiftrightunsigned(cell_y_col(cell), 1))


def _u32(c: Column) -> Column:
    return c.bitwiseAND(F.lit(0xFFFFFFFF))


def hilbert_u32_col(x: Column, y: Column) -> Column:
    """Column twin of kernels.hilbert.hilbert_u32 (16-bit inputs).

    Same bit algebra as packedrtree.cpp:74-131, on longs (all
    intermediates < 2^32 given 16-bit inputs, so no wraparound
    masking is needed beyond the final combine).
    """
    M = F.lit(0xFFFF)
    x = x.cast("long")
    y = y.cast("long")

    a = x.bitwiseXOR(y)
    b = M.bitwiseXOR(a)
    c = M.bitwiseXOR(x.bitwiseOR(y))
    d = x.bitwiseAND(y.bitwiseXOR(M))

    def sr(col, n):
        return F.shiftrightunsigned(col, n)

    A = a.bitwiseOR(sr(b, 1))
    B = sr(a, 1).bitwiseXOR(a)
    C = sr(c, 1).bitwiseXOR(b.bitwiseAND(sr(d, 1))).bitwiseXOR(c)
    D = a.bitwiseAND(sr(c, 1)).bitwiseXOR(sr(d, 1)).bitwiseXOR(d)

    a, b, c, d = A, B, C, D
    A = a.bitwiseAND(sr(a, 2)).bitwiseXOR(b.bitwiseAND(sr(b, 2)))
    B = a.bitwiseAND(sr(b, 2)).bitwiseXOR(b.bitwiseAND(sr(a.bitwiseXOR(b), 2)))
    C = c.bitwiseXOR(a.bitwiseAND(sr(c, 2)).bitwiseXOR(b.bitwiseAND(sr(d, 2))))
    D = d.bitwiseXOR(b.bitwiseAND(sr(c, 2)).bitwiseXOR(
        a.bitwiseXOR(b).bitwiseAND(sr(d, 2))))

    a, b, c, d = A, B, C, D
    A = a.bitwiseAND(sr(a, 4)).bitwiseXOR(b.bitwiseAND(sr(b, 4)))
    B = a.bitwiseAND(sr(b, 4)).bitwiseXOR(b.bitwiseAND(sr(a.bitwiseXOR(b), 4)))
    C = c.bitwiseXOR(a.bitwiseAND(sr(c, 4)).bitwiseXOR(b.bitwiseAND(sr(d, 4))))
    D = d.bitwiseXOR(b.bitwiseAND(sr(c, 4)).bitwiseXOR(
        a.bitwiseXOR(b).bitwiseAND(sr(d, 4))))

    a, b, c, d = A, B, C, D
    C = c.bitwiseXOR(a.bitwiseAND(sr(c, 8)).bitwiseXOR(b.bitwiseAND(sr(d, 8))))
    D = d.bitwiseXOR(b.bitwiseAND(sr(c, 8)).bitwiseXOR(
        a.bitwiseXOR(b).bitwiseAND(sr(d, 8))))

    a = C.bitwiseXOR(sr(C, 1))
    b = D.bitwiseXOR(sr(D, 1))

    i0 = x.bitwiseXOR(y)
    i1 = b.bitwiseOR(M.bitwiseXOR(i0.bitwiseOR(a)))

    def interleave(i):
        i = _u32(i.bitwiseOR(F.shiftleft(i, 8))).bitwiseAND(F.lit(0x00FF00FF))
        i = _u32(i.bitwiseOR(F.shiftleft(i, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        i = _u32(i.bitwiseOR(F.shiftleft(i, 2))).bitwiseAND(F.lit(0x33333333))
        i = _u32(i.bitwiseOR(F.shiftleft(i, 1))).bitwiseAND(F.lit(0x55555555))
        return i

    i0 = interleave(i0)
    i1 = interleave(i1)
    return _u32(F.shiftleft(i1, 1).bitwiseOR(i0))


def pip_inside_col(edges: Column, x: Column, y: Column) -> Column:
    """JVM ray-cast point-in-polygon over an edges array column.

    edges: array<struct<ex1,ey1,ex2,ey2>> — ring edges in the
    (vertex i+1, vertex i) pairing of OGRLinearRing::isPointInRing
    (ogrlinearring.cpp:498-517).  Exactly the kernel arithmetic —
    relative coords, strict/inclusive straddle split, intersection
    strictly > 0 — but folded inside Catalyst with aggregate(): no
    Python, no Arrow hop, same IEEE doubles as the numpy kernel.
    ``ArrayAggregate`` is ``CodegenFallback``, so the fold runs
    interpreted, edge by edge; the spatial join's classified cell
    cover keeps the arrays it is given short.
    """
    def crossing(e):
        y1 = e["ey1"] - y
        y2 = e["ey2"] - y
        x1 = e["ex1"] - x
        x2 = e["ex2"] - x
        straddle = ((y1 > 0) & (y2 <= 0)) | ((y2 > 0) & (y1 <= 0))
        inter = (x1 * y2 - x2 * y1) / (y2 - y1)
        return F.when(straddle & (inter > 0.0), F.lit(1)).otherwise(F.lit(0))

    crossings = F.aggregate(
        edges, F.lit(0), lambda acc, e: acc + crossing(e))
    return crossings % 2 == 1


def hilbert_u32_pandas(x: Column, y: Column) -> Column:
    """Arrow-vectorized Hilbert key (numpy kernel inside a pandas UDF).

    The Column twin above is pure Catalyst but its expression DAG
    re-expands into an exponentially large codegen tree (each round
    references the previous round's four subexpressions 2-3 times),
    so for bulk encoding the vectorized kernel is the fast path:
    linear work per Arrow batch, bit-identical output
    (tests assert equality of the two).
    """
    from pyspark.sql.functions import pandas_udf

    from ..kernels.hilbert import hilbert_u32

    @pandas_udf("long")
    def _h(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = hilbert_u32(xs.to_numpy(dtype="uint32"), ys.to_numpy(dtype="uint32"))
        return pd.Series(out.astype("int64"))

    return _h(x, y)


def covering_cells_col(grid: TileGrid, z: int,
                       xmin: Column, ymin: Column, xmax: Column, ymax: Column) -> Column:
    """Array of cell ids whose tiles intersect a bbox — the Column twin
    of TileGrid.tile_range_for_bbox, built with sequence() so the
    explode of polygon -> covering cells stays JVM-side."""
    tx0, ty1 = tile_xy_cols(grid, z, xmin, ymin)
    tx1, ty0 = tile_xy_cols(grid, z, xmax, ymax)
    xs = F.sequence(tx0, tx1)
    ys = F.sequence(ty0, ty1)
    pairs = F.flatten(F.transform(
        xs, lambda x: F.transform(ys, lambda y: F.struct(x.alias("tx"), y.alias("ty")))))
    return F.transform(pairs, lambda p: pack_cell_col(z, p["tx"], p["ty"]))


def s2_cell_pandas(x: Column, y: Column, z: Column,
                   level: int = 30) -> Column:
    """Arrow-vectorized S2 cell encoding (north-star op): direction
    vector -> struct(face int, pos long).  numpy kernel inside a
    scalar pandas UDF — 30 vectorized passes per Arrow batch, no
    per-row Python (kernels/s2.py)."""
    from pyspark.sql.functions import pandas_udf

    from ..kernels import s2 as ks2

    @pandas_udf("face int, pos long")
    def _s2(xs: pd.Series, ys: pd.Series, zs: pd.Series) -> pd.DataFrame:
        f, p = ks2.s2_encode_xyz(xs.to_numpy(dtype="float64"),
                                 ys.to_numpy(dtype="float64"),
                                 zs.to_numpy(dtype="float64"), level)
        return pd.DataFrame({"face": f.astype("int32"), "pos": p})

    return _s2(x, y, z)


def s2_cell_pandas_key(lon: Column, lat: Column, level: int) -> Column:
    """Single-int64 S2 cell key at ``level`` (kernels.s2.cell_key):
    Arrow-vectorized, one key per point — the join key of
    spatial_join_s2."""
    from pyspark.sql.functions import pandas_udf

    from ..kernels import s2 as ks2

    @pandas_udf("long")
    def _k(lons: pd.Series, lats: pd.Series) -> pd.Series:
        f, p = ks2.s2_encode_lonlat(lons.to_numpy(dtype="float64"),
                                    lats.to_numpy(dtype="float64"))
        return pd.Series(ks2.cell_key(f, p, level))

    return _k(lon, lat)
