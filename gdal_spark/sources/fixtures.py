"""Deterministic synthetic fixtures (FIXTURES.md, seed=42).

Mirrors the reference's canonical test data:

* ``docs``     — the interleaved text+media document table
  (BASELINE.json input_hint shape), geo spans carrying POINT WKT in
  the poly.shp bbox, 5% deliberate negatives, 20% drawn from 3 hot
  squares to exercise hot-cell salting;
* ``polygons`` — attribute clone of autotest/ogr/data/poly.shp
  (/root/reference/autotest/ogr/data, goldens
  /root/reference/autotest/ogr/ogr_sql_test.py:171-249), rings
  re-synthesized deterministically inside the canonical bbox;
* ``idlink``   — join secondary (ogr_sql_test.py:241-249 semantics).

Everything is reproducible from (seed, n_docs) alone — no external
data, no wall-clock, no unseeded RNG.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..kernels import wkb as kwkb

SEED = 42

# canonical poly.shp layer bbox (FIXTURES.md §2)
POLY_BBOX = (478315.53125, 4762880.5, 481645.3125, 4765610.5)

POLY_ATTRS = [
    # (fid, area, eas_id, prfedea)  — exact rows from the reference .dbf
    (0, 215229.266, 168, "35043411"),
    (1, 247328.172, 179, "35043423"),
    (2, 261752.781, 171, "35043414"),
    (3, 547597.188, 173, "35043416"),
    (4, 15775.758, 172, "35043415"),
    (5, 101429.977, 169, "35043412"),
    (6, 268597.625, 166, "35043409"),
    (7, 1634833.375, 158, "35043369"),
    (8, -596610.313, 165, "35043408"),
    (9, 5268.813, 170, "35043413"),
]
POLY_RING_POINTS = [20, 20, 29, 26, 6, 20, 31, 61, 27, 5]

IDLINK_EAS = [158, 165, 166, 168, 170, 171, 179]

# three hot 100m x 100m squares (FIXTURES.md §1 skew knob)
HOT_CENTERS = [(478900.0, 4763400.0), (480100.0, 4764600.0), (481000.0, 4763200.0)]


# ------------------------------------------------------------------ polygons
def polygons_pandas() -> pd.DataFrame:
    """10 single-ring simple polygons with the canonical attribute rows.

    Rings are deterministic star-convex shapes (radius-wobbled
    ellipses) centered on a 5x2 grid inside POLY_BBOX, with the
    per-ring vertex counts of the reference layer.
    """
    minx, miny, maxx, maxy = POLY_BBOX
    w, h = maxx - minx, maxy - miny
    rows = []
    for (fid, area, eas, prf), npts in zip(POLY_ATTRS, POLY_RING_POINTS):
        cx = minx + w * (0.12 + 0.19 * (fid % 5))
        cy = miny + h * (0.28 + 0.45 * (fid // 5))
        rx = w * (0.055 + 0.015 * ((fid * 3) % 4))
        ry = h * (0.075 + 0.02 * ((fid * 5) % 3))
        k = npts - 1  # distinct vertices; ring closed explicitly
        ang = 2 * np.pi * np.arange(k) / k
        wob = 1.0 + 0.25 * np.sin(3 * ang + fid)  # simple star-convex wobble
        xs = cx + rx * wob * np.cos(ang)
        ys = cy + ry * wob * np.sin(ang)
        ring = np.column_stack([xs, ys])
        ring = np.vstack([ring, ring[:1]])
        wkb_bytes = kwkb.wkb_polygon([ring])
        bx = kwkb.wkb_bbox(wkb_bytes)
        rows.append({
            "fid": fid, "area": area, "eas_id": eas, "prfedea": prf,
            "wkb": wkb_bytes,
            "xmin": bx[0], "ymin": bx[1], "xmax": bx[2], "ymax": bx[3],
        })
    return pd.DataFrame(rows)


def idlink_pandas() -> pd.DataFrame:
    return pd.DataFrame({
        "eas_id": IDLINK_EAS,
        "name": [f"_{e}_" for e in IDLINK_EAS],
    })


# ------------------------------------------------------------------ docs
def docs_pandas(n_docs: int = 10_000, seed: int = SEED) -> pd.DataFrame:
    """The interleaved-document table, fully vectorized generation.

    Schema: doc_id string, spans array<struct<kind,text,media_ref,offset>>.
    Each doc has 1-8 spans; exactly one is a ``geo`` span holding
    "POINT(lon lat)"; text/media spans alternate around it.
    """
    rng = np.random.RandomState(seed)
    minx, miny, maxx, maxy = POLY_BBOX

    n_spans = rng.randint(1, 9, size=n_docs)
    starts = np.zeros(n_docs, dtype=np.int64)
    starts[1:] = np.cumsum(n_spans)[:-1]
    total = int(n_spans.sum())
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), n_spans)
    pos = np.arange(total, dtype=np.int64) - np.repeat(starts, n_spans)

    # geo span position: deterministic slot within each doc
    geo_pos = (np.arange(n_docs, dtype=np.int64) * 7919) % n_spans
    is_geo = pos == np.repeat(geo_pos, n_spans)

    # point placement: 20% hot squares, 5% outside bbox, rest uniform
    u = rng.uniform(size=n_docs)
    hot_mask = u < 0.20
    out_mask = (u >= 0.20) & (u < 0.25)
    hot_id = (np.arange(n_docs) * 2654435761 % 3).astype(np.int64)
    lon = rng.uniform(minx, maxx, size=n_docs)
    lat = rng.uniform(miny, maxy, size=n_docs)
    hcx = np.array([c[0] for c in HOT_CENTERS])[hot_id]
    hcy = np.array([c[1] for c in HOT_CENTERS])[hot_id]
    lon = np.where(hot_mask, hcx + rng.uniform(-50, 50, n_docs), lon)
    lat = np.where(hot_mask, hcy + rng.uniform(-50, 50, n_docs), lat)
    lon = np.where(out_mask, maxx + rng.uniform(1_000, 6_000, n_docs), lon)
    lat = np.where(out_mask, maxy + rng.uniform(1_000, 6_000, n_docs), lat)

    # span kinds: geo at its slot; others alternate text / media
    kind = np.where(pos % 2 == 0, "text",
                    np.where(doc_of % 2 == 0, "image", "audio")).astype(object)
    kind[is_geo] = "geo"

    # texts: deterministic token strings for text spans; POINT wkt for geo
    tok = (doc_of * 31 + pos * 7) % 9973
    texts = np.empty(total, dtype=object)
    is_text = kind == "text"
    texts[:] = ""
    texts[is_text] = pd.Series(tok[is_text]).map(
        lambda t: f"tok{t:04d} tok{(t * 3 + 1) % 9973:04d} tok{(t * 5 + 2) % 9973:04d}"
    ).to_numpy()
    geo_lon = lon[doc_of[is_geo]]
    geo_lat = lat[doc_of[is_geo]]
    texts[is_geo] = [f"POINT({x:.9f} {y:.9f})" for x, y in zip(geo_lon, geo_lat)]

    media = np.empty(total, dtype=object)
    media[:] = ""
    is_media = (kind == "image") | (kind == "audio")
    mh = (doc_of * 1_000_003 + pos * 97) & 0xFFFFFFFFFFFF
    media[is_media] = pd.Series(mh[is_media]).map(lambda v: f"media://{v:012x}").to_numpy()

    spans = pd.DataFrame({
        "doc": doc_of,
        "span": [
            {"kind": k, "text": t, "media_ref": m, "offset": int(p)}
            for k, t, m, p in zip(kind, texts, media, pos)
        ],
    })
    grouped = spans.groupby("doc", sort=True)["span"].apply(list)
    return pd.DataFrame({
        "doc_id": [f"doc-{i:09d}" for i in range(n_docs)],
        "spans": grouped.to_numpy(),
    })


# ------------------------------------------------------------------ writers
def write_fixtures(spark, path: str, n_docs: int = 10_000) -> None:
    """Materialize docs/polygons/idlink as parquet under `path`."""
    docs = spark.createDataFrame(docs_pandas(n_docs))
    docs.repartition(8).write.mode("overwrite").parquet(f"{path}/docs.parquet")
    spark.createDataFrame(polygons_pandas()).coalesce(1).write.mode(
        "overwrite").parquet(f"{path}/polygons.parquet")
    spark.createDataFrame(idlink_pandas()).coalesce(1).write.mode(
        "overwrite").parquet(f"{path}/idlink.parquet")
