"""Seeded input generators.  The same seed gives the same inputs; the
engine only ever sees the generated files."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gdal_spark.kernels import media as km
from gdal_spark.sources import fixtures as fx


def write_parquet(df: pd.DataFrame, path: str) -> int:
    """Write ``df`` as one parquet file; returns its size in bytes."""
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return os.path.getsize(path)


# ---------------------------------------------------------------- points
def skewed_points(n: int, seed: int) -> pd.DataFrame:
    """(doc_id, x, y) with the fixture skew of ``fixtures.docs_pandas``:
    20% in the three HOT_CENTERS squares, 5% outside POLY_BBOX, the
    rest uniform inside it."""
    rng = np.random.RandomState(seed)
    minx, miny, maxx, maxy = fx.POLY_BBOX
    u = rng.uniform(size=n)
    hot = u < 0.20
    out = (u >= 0.20) & (u < 0.25)
    x = rng.uniform(minx, maxx, n)
    y = rng.uniform(miny, maxy, n)
    centers = np.asarray(fx.HOT_CENTERS)[rng.randint(0, 3, n)]
    x = np.where(hot, centers[:, 0] + rng.uniform(-50, 50, n), x)
    y = np.where(hot, centers[:, 1] + rng.uniform(-50, 50, n), y)
    x = np.where(out, maxx + rng.uniform(1_000, 6_000, n), x)
    y = np.where(out, maxy + rng.uniform(1_000, 6_000, n), y)
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "x": x, "y": y})


def polygon_rings() -> dict[int, list[np.ndarray]]:
    from gdal_spark.kernels import wkb as kwkb

    polys = fx.polygons_pandas()
    return {int(f): kwkb.polygon_rings(bytes(w))
            for f, w in zip(polys["fid"], polys["wkb"])}


def pip_pairs(x: np.ndarray, y: np.ndarray, chunk: int = 65536) -> list[tuple[np.ndarray, int]]:
    """Reference (point index, fid) containment from the numpy kernel
    ``kernels.pip.points_in_polygon``: one (indices, fid) per polygon."""
    from gdal_spark.kernels import pip as kpip

    out = []
    for fid, rings in sorted(polygon_rings().items()):
        outer = np.asarray(rings[0])
        (x0, y0), (x1, y1) = outer.min(axis=0), outer.max(axis=0)
        cand = np.nonzero((x >= x0) & (x <= x1) & (y >= y0) & (y <= y1))[0]
        hits = [c[kpip.points_in_polygon(x[c], y[c], rings)]
                for c in np.array_split(cand, max(1, len(cand) // chunk))]
        out.append((np.concatenate(hits) if hits else cand[:0], fid))
    return out


def pair_digest(doc_ids: np.ndarray, fids: np.ndarray) -> dict:
    """Order-independent digest of (doc_id, fid) pairs, computed the
    same way in Spark (see bulk_join.digest)."""
    key = doc_ids.astype(np.int64) * 16 + fids.astype(np.int64)
    return {"rows": int(key.size),
            "xor": int(np.bitwise_xor.reduce(key)) if key.size else 0,
            "sum": int(key.sum())}


# ---------------------------------------------------------------- media
MEDIA_KINDS = ("jpeg", "png", "bmp", "wav")
WAV_RATES = (8000, 11025, 16000, 22050)


def _feature_row(did: int, kind: str) -> dict:
    return {"doc_id": did, "kind": kind, "rate": 0, "n_samples": 0,
            "duration_ms": 0, "rms": 0.0, "peak": 0, "width": 0, "height": 0,
            "mean_r": 0.0, "mean_g": 0.0, "mean_b": 0.0}


def _image_means(a: np.ndarray) -> dict:
    if a.ndim == 2:
        a = a[:, :, None].repeat(3, axis=2)
    return {"width": int(a.shape[1]), "height": int(a.shape[0]),
            "mean_r": float(a[:, :, 0].mean()), "mean_g": float(a[:, :, 1].mean()),
            "mean_b": float(a[:, :, 2].mean())}


def media_payloads(n: int, seed: int):
    """``n`` payloads rotating JPEG / PNG / BMP / WAV, made with the
    in-repo encoders.  Returns (payloads DF(doc_id, kind, payload),
    expected features DF in ``decode_media_real``'s schema).

    JPEG: grayscale, constant 8x8 blocks, unit quantization (exact
    round trip), restart interval rotating 0..3.  PNG: gray / RGB /
    RGBA with the scanline filter cycling through all five types.
    """
    rng = np.random.RandomState(seed)
    payloads, expected = [], []
    for did in range(n):
        kind = MEDIA_KINDS[did % len(MEDIA_KINDS)]
        row = _feature_row(did, kind)
        if kind == "jpeg":
            w, h = rng.randint(9, 33), rng.randint(9, 25)
            blocks = rng.randint(0, 256, size=((h + 7) // 8, (w + 7) // 8))
            a = np.kron(blocks, np.ones((8, 8), dtype=np.int64))[:h, :w].astype(np.uint8)
            data = km.encode_jpeg(a, restart_interval=did // 4 % 4)
            row.update(_image_means(a))
        elif kind == "png":
            w, h = rng.randint(5, 17), rng.randint(5, 13)
            ch = (1, 3, 4)[did // 4 % 3]
            shape = (h, w) if ch == 1 else (h, w, ch)
            a = rng.randint(0, 256, size=shape).astype(np.uint8)
            data = km.encode_png(a, "cycle")
            row.update(_image_means(a if ch != 4 else a[:, :, :3]))
        elif kind == "bmp":
            w, h = rng.randint(8, 24), rng.randint(6, 18)
            a = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
            data = km.encode_bmp(a)
            row.update(_image_means(a))
        else:
            rate = WAV_RATES[rng.randint(0, len(WAV_RATES))]
            s = rng.randint(-1024, 1024, size=rng.randint(64, 512)).astype(np.int16)
            data = km.encode_wav(s, rate=rate)
            xs = s.astype(np.float64)
            row.update({"rate": rate, "n_samples": int(s.size),
                        "duration_ms": int(s.size * 1000 // rate),
                        "rms": float(np.sqrt((xs * xs).mean())),
                        "peak": int(np.abs(s).max())})
        payloads.append({"doc_id": did, "kind": kind, "payload": data})
        expected.append(row)
    return pd.DataFrame(payloads), pd.DataFrame(expected)


AVI_STRIDE = 2


def avi_payloads(n: int, seed: int, first_id: int):
    """``n`` uncompressed-DIB AVI clips.  Returns (payloads DF(doc_id,
    payload), expected ``frame_sample_real`` rows at AVI_STRIDE)."""
    rng = np.random.RandomState([seed, 1])
    payloads, expected = [], []
    for did in range(first_id, first_id + n):
        nf, w, h = rng.randint(4, 13), rng.randint(6, 14), rng.randint(5, 11)
        rate = int(rng.randint(10, 20))
        frames = rng.randint(0, 256, size=(nf, h, w, 3)).astype(np.uint8)
        payloads.append({"doc_id": did, "payload": km.encode_avi(frames, rate=rate)})
        sampled = frames[::AVI_STRIDE]
        means = sampled.reshape(sampled.shape[0], -1, 3).mean(axis=1, dtype=np.float64)
        for k, fidx in enumerate(range(0, nf, AVI_STRIDE)):
            expected.append({"doc_id": did, "frame_idx": fidx,
                             "ts_ms": fidx * 1000 // rate, "width": w, "height": h,
                             "mean_r": means[k, 0], "mean_g": means[k, 1],
                             "mean_b": means[k, 2]})
    return pd.DataFrame(payloads), pd.DataFrame(expected)


# ---------------------------------------------------------------- catalog tables
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def catalog_tables(seed: int, n_docs: int = 500, n_customers: int = 1500,
                   n_orders: int = 15000) -> dict[str, pd.DataFrame]:
    """The tables the query mix reads, in the schema of the catalog's
    TPC-H-ish test data: documents, customer, orders, lineitem."""
    rng = np.random.RandomState(seed)
    vocab = np.array([f"w{i:03d}" for i in range(400)], dtype=object)
    ranks = np.arange(1, vocab.size + 1, dtype=np.float64)
    zipf = (1.0 / ranks) / (1.0 / ranks).sum()
    doc_ids = np.sort(rng.choice(np.arange(4 * n_docs), n_docs, replace=False))
    lens = rng.randint(4, 40, n_docs)
    texts = [" ".join(rng.choice(vocab, k, p=zipf)) for k in lens]
    documents = pd.DataFrame({
        "doc_id": doc_ids.astype(np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr"], n_docs),
        "source": rng.choice(["web", "book", "news"], n_docs),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(1, n_customers + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_customers + 1)],
        "c_nationkey": rng.randint(0, 25, n_customers).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_customers),
    })
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    orderdate = day0 + rng.randint(0, 2400, n_orders).astype("timedelta64[D]")
    orders = pd.DataFrame({
        "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64) * 4,
        "o_custkey": rng.randint(1, n_customers + 1, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(800, 500_000, n_orders), 2),
        "o_orderdate": orderdate,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    per_order = rng.randint(1, 8, n_orders)
    n_li = int(per_order.sum())
    li_order = np.repeat(orders["o_orderkey"].to_numpy(), per_order)
    lineitem = pd.DataFrame({
        "l_orderkey": li_order,
        "l_partkey": rng.randint(1, 20_000, n_li).astype(np.int64),
        "l_suppkey": rng.randint(1, 1_000, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order,
                                                     per_order) + 1).astype(np.int32),
        "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
        # whole cents, so revenue sums agree across engines after ROUND(., 2)
        "l_extendedprice": rng.randint(90_000, 10_500_000, n_li) / 100.0,
        "l_discount": rng.randint(0, 11, n_li) / 100.0,
        "l_tax": rng.randint(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": np.repeat(orderdate, per_order)
        + rng.randint(1, 122, n_li).astype("timedelta64[D]"),
    })
    return {"documents": documents, "customer": customer, "orders": orders,
            "lineitem": lineitem}
