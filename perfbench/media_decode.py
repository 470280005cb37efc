"""media_decode: real decode of seeded media payloads through the
Arrow boundary.

``kernels.media`` and the Python workers do the work and the JVM is
nearly idle, so gains at the Python boundary show here and not on
bulk_join.  Each timed op decodes every payload (JPEG / PNG / BMP /
WAV through ``decode_media_real``, AVI through ``frame_sample_real``)
and checks a digest of the features; the warm-up pass checks every
feature row against the values the generator implies.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import functions as F

from gdal_spark.operators.multimodal import decode_media_real, frame_sample_real

from . import inputs

N_MEDIA = 6_000
N_AVI = 750
PARTITIONS = 8
_INT_COLS = ("width", "height", "rate", "n_samples", "duration_ms", "peak",
             "frame_idx", "ts_ms")
_FLOAT_COLS = ("mean_r", "mean_g", "mean_b", "rms")
_MICRO = 1e6


def digest(df) -> dict:
    """Row count, integer-column sums and floored micro-unit sums of
    the float columns (exact in both Spark and numpy)."""
    aggs = [F.count("*").alias("rows")]
    aggs += [F.sum(c).cast("long").alias(c) for c in _INT_COLS if c in df.columns]
    aggs += [F.sum(F.floor(F.col(c) * F.lit(_MICRO))).alias(c)
             for c in _FLOAT_COLS if c in df.columns]
    row = df.agg(*aggs).collect()[0].asDict()
    return {k: int(v or 0) for k, v in row.items()}


def expected_digest(pdf: pd.DataFrame) -> dict:
    out = {"rows": len(pdf)}
    out.update({c: int(pdf[c].sum()) for c in _INT_COLS if c in pdf.columns})
    out.update({c: int(sum(math.floor(v * _MICRO) for v in pdf[c]))
                for c in _FLOAT_COLS if c in pdf.columns})
    return out


def compare_rows(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> list[str]:
    """Row-by-row feature compare; floats to 1e-9 relative."""
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    bad = []
    for c in w.columns:
        a, e = g[c].to_numpy(), w[c].to_numpy()
        if c in _FLOAT_COLS:
            ok = np.isclose(a.astype(float), e.astype(float), rtol=1e-9, atol=0)
        else:
            ok = a == e
        if not ok.all():
            i = int(np.argmin(ok))
            bad.append(f"{c}: {int((~ok).sum())} rows differ, e.g. "
                       f"{keys}={g.loc[i, keys].tolist()} got {a[i]!r} want {e[i]!r}")
    return bad


def run(b) -> int:
    """Returns the number of payloads one op decodes."""
    spark, tr = b.spark, b.tracer
    n_media, n_avi = int(N_MEDIA * b.scale), int(N_AVI * b.scale)
    media_path, avi_path = b.path("media.parquet"), b.path("avi.parquet")
    with tr.span("sources.input_gen"), b.setup_step("input_gen_s"):
        media, want_feats = inputs.media_payloads(n_media, b.seed)
        avi, want_frames = inputs.avi_payloads(n_avi, b.seed, first_id=n_media)
        nbytes = inputs.write_parquet(media, media_path)
        nbytes += inputs.write_parquet(avi, avi_path)
    b.layer["sources.input_gen_s"] = b.setup_wall["input_gen_s"]
    b.layer["sources.input_bytes"] = nbytes
    b.layer["multimodal.payload_bytes"] = int(
        media["payload"].map(len).sum() + avi["payload"].map(len).sum())
    want_media, want_avi = expected_digest(want_feats), expected_digest(want_frames)
    del media, avi

    loaded = []

    def load():
        for df in loaded:
            df.unpersist(blocking=True)
        loaded.clear()
        with tr.span("sources.scan"):
            for p in (media_path, avi_path):
                df = (spark.read.parquet(p).repartition(PARTITIONS)
                      .persist(StorageLevel.MEMORY_ONLY))
                df.count()
                loaded.append(df)
        return list(loaded)

    media_df, avi_df = b.repeated_setup("scan_s", load)
    b.layer["sources.scan_s"] = b.setup_wall["scan_s"]

    def op(_i):
        with tr.span("multimodal.decode"):
            got_media = digest(decode_media_real(media_df))
        with tr.span("multimodal.frame_sample"):
            got_avi = digest(frame_sample_real(avi_df, stride=inputs.AVI_STRIDE))
        if got_media != want_media:
            return f"decode digest {got_media} != {want_media}"
        if got_avi != want_avi:
            return f"frame digest {got_avi} != {want_avi}"
        return None

    # warm-up: every feature row against the generator's values, then
    # one digest op
    with b.setup_step("warmup_s"), tr.span("warmup"):
        feats = decode_media_real(media_df).toPandas()
        bad = compare_rows(feats, want_feats, ["doc_id"])
        b.checks.record("decode_rows", not bad, "; ".join(bad))
        frames = frame_sample_real(avi_df, stride=inputs.AVI_STRIDE).toPandas()
        bad = compare_rows(frames, want_frames, ["doc_id", "frame_idx"])
        b.checks.record("frame_rows", not bad, "; ".join(bad))
        b.checks.record("warmup", op(-1) is None, "wrong digest")
    b.sample_rss()

    b.timed_loop("media_decode", op)
    b.layer["multimodal.decode_s"] = tr.median("multimodal.decode")
    b.layer["multimodal.frame_sample_s"] = tr.median("multimodal.frame_sample")

    return n_media + n_avi
