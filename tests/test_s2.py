"""S2 cell encoding kernel — independent structural properties.

These do not compare against our own code twice: they assert the
defining mathematical properties of the S2 scheme (public spec), so a
transcription error in the tables or the state machine fails them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gdal_spark.kernels import s2 as ks2


def test_face_cardinal_directions():
    # +x,+y,+z,-x,-y,-z map to faces 0..5 by definition.
    dirs = np.array([[1, 0, 0], [0, 1, 0], [0, 0, 1],
                     [-1, 0, 0], [0, -1, 0], [0, 0, -1]], dtype=float)
    face, u, v = ks2.face_uv_from_xyz(dirs[:, 0], dirs[:, 1], dirs[:, 2])
    assert face.tolist() == [0, 1, 2, 3, 4, 5]
    # face centers project to uv = (0,0) -> st = (0.5, 0.5)
    assert np.allclose(u, 0.0) and np.allclose(v, 0.0)
    assert np.allclose(ks2.st_from_uv(u), 0.5)


@pytest.mark.parametrize("face", range(6))
def test_hilbert_bijective_level5(face):
    # Every (i,j) in the 32x32 grid gets a unique position in [0,1024).
    n = 32
    ii, jj = np.mgrid[0:n, 0:n]
    pos = ks2.hilbert_pos(np.full(ii.size, face), ii.ravel(), jj.ravel(),
                          level=5)
    assert sorted(pos.tolist()) == list(range(n * n))


@pytest.mark.parametrize("face", range(6))
def test_hilbert_continuity_level6(face):
    # The defining Hilbert property: consecutive curve positions are
    # 4-adjacent cells (|di| + |dj| == 1) — catches any table typo.
    pos = np.arange(4096, dtype=np.int64)
    i, j = ks2.ij_from_pos(np.full(pos.size, face), pos, level=6)
    d = np.abs(np.diff(i)) + np.abs(np.diff(j))
    assert (d == 1).all()


def test_inverse_roundtrip():
    rng = np.random.RandomState(7)
    i = rng.randint(0, 2 ** 30, size=500).astype(np.int64)
    j = rng.randint(0, 2 ** 30, size=500).astype(np.int64)
    face = rng.randint(0, 6, size=500).astype(np.int64)
    pos = ks2.hilbert_pos(face, i, j, level=30)
    i2, j2 = ks2.ij_from_pos(face, pos, level=30)
    assert (i2 == i).all() and (j2 == j).all()


def test_prefix_self_similarity():
    # pos at level k is the 2k-bit prefix of pos at level 30 (the
    # parent-cell relation that makes S2 keys range-partitionable).
    rng = np.random.RandomState(11)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-89, 89, 300)
    f30, p30 = ks2.s2_encode_lonlat(lon, lat, level=30)
    for k in (1, 5, 12, 20):
        fk, pk = ks2.s2_encode_lonlat(lon, lat, level=k)
        assert (fk == f30).all()
        assert (pk == (p30 >> (2 * (30 - k)))).all()


def test_locality_nearby_points_share_prefix():
    # Two points ~1e-7 deg apart (~1 cm) share a deep curve prefix
    # unless they straddle a cell boundary; median prefix must be deep.
    rng = np.random.RandomState(13)
    lon = rng.uniform(-170, 170, 400)
    lat = rng.uniform(-80, 80, 400)
    f1, p1 = ks2.s2_encode_lonlat(lon, lat)
    f2, p2 = ks2.s2_encode_lonlat(lon + 1e-7, lat)
    same = f1 == f2
    shift = np.zeros(same.sum(), dtype=np.int64)
    x = (p1[same] ^ p2[same])
    for b in range(60):
        shift[x >= (1 << b)] = b + 1
    depth = 30 - (shift + 1) // 2
    assert np.median(depth) >= 18


def s2_cell_lonlat_pandas(lon, lat, level: int = 30):
    """Degrees -> struct(face, pos) via the unit sphere, as an Arrow
    UDF over the numpy kernel."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("face int, pos long")
    def _s2(lons: pd.Series, lats: pd.Series) -> pd.DataFrame:
        f, p = ks2.s2_encode_lonlat(lons.to_numpy(dtype="float64"),
                                    lats.to_numpy(dtype="float64"), level)
        return pd.DataFrame({"face": f.astype("int32"), "pos": p})

    return _s2(lon, lat)


def test_spark_udf_matches_kernel(spark):
    from pyspark.sql import functions as F

    pts = [(float(a) / 7.0 - 10.0, float(a % 13) * 6.0 - 36.0)
           for a in range(200)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    out = (df.withColumn("c", s2_cell_lonlat_pandas(
               F.col("lon"), F.col("lat")))
             .select("lon", "lat", "c.face", "c.pos").toPandas())
    f, p = ks2.s2_encode_lonlat(out["lon"].to_numpy(),
                                out["lat"].to_numpy())
    assert (out["face"].to_numpy() == f).all()
    assert (out["pos"].to_numpy() == p).all()


def test_cover_bbox_no_undercoverage():
    # brute force: every point of a dense grid inside the box must
    # land in a covered cell.
    rng = np.random.RandomState(5)
    for _ in range(8):
        cx = rng.uniform(-150, 150)
        cy = rng.uniform(-60, 60)
        w = rng.uniform(0.1, 3.0)
        h = rng.uniform(0.1, 3.0)
        level = int(rng.choice([6, 8, 10]))
        cover = set(ks2.cover_bbox_lonlat(cx, cy, cx + w, cy + h, level)
                    .tolist())
        px = rng.uniform(cx, cx + w, 4000)
        py = rng.uniform(cy, cy + h, 4000)
        f, p = ks2.s2_encode_lonlat(px, py)
        got = set(ks2.cell_key(f, p, level).tolist())
        assert got <= cover, (cx, cy, w, h, level, len(got - cover))


def test_cell_key_prefix_consistency():
    rng = np.random.RandomState(6)
    lon = rng.uniform(-179, 179, 200)
    lat = rng.uniform(-85, 85, 200)
    f, p = ks2.s2_encode_lonlat(lon, lat)
    k8 = ks2.cell_key(f, p, 8)
    f8, p8 = ks2.s2_encode_lonlat(lon, lat, level=8)
    assert (k8 == f8 * (1 << 16) + p8).all()
