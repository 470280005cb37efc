"""Kernel microbench for the traced run: the numpy/stdlib kernels on
the workloads' timed paths, single-threaded on the driver, on inputs
drawn from the workload seed."""

from __future__ import annotations

import time

import numpy as np

from gdal_spark.kernels import checksum as kck
from gdal_spark.kernels import media as km
from gdal_spark.kernels import rasterize as kr
from gdal_spark.kernels import wkb as kwkb
from gdal_spark.kernels.cells import TileGrid
from gdal_spark.sources import fixtures as fx

from . import inputs

N_MEDIA = 400
N_AVI = 60
N_POINTS = 20_000
TILE_ZOOM = 4


def _rate(fn, items) -> float:
    """Items per second of ``fn`` over ``items`` (best of 3 passes)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        best = min(best, time.perf_counter() - t0)
    return len(items) / best


def run(b) -> None:
    with b.tracer.span("kernels"):
        media, _ = inputs.media_payloads(N_MEDIA, b.seed)
        decode = {"jpeg": km.jpeg_features, "png": km.png_features,
                  "bmp": km.bmp_features, "wav": km.wav_features}
        for kind, fn in decode.items():
            blobs = [bytes(p) for p in media.loc[media["kind"] == kind, "payload"]]
            b.layer[f"kernels.{kind}_per_s"] = _rate(fn, blobs)

        avi, _ = inputs.avi_payloads(N_AVI, b.seed, first_id=0)
        blobs = [bytes(p) for p in avi["payload"]]
        n_frames = sum(km.decode_avi(p)[2].shape[0] for p in blobs)
        b.layer["kernels.avi_frames_per_s"] = (
            _rate(km.decode_avi, blobs) * n_frames / len(blobs))

        # one zoom-4 tile's worth of points: burn (ADD, uint16) + checksum
        grid = TileGrid.local(*fx.POLY_BBOX)
        pts = inputs.skewed_points(N_POINTS, b.seed)
        xy = pts[["x", "y"]].to_numpy()
        tx, ty = grid.tile_xy(TILE_ZOOM, xy[:, 0], xy[:, 1])
        tx, ty = np.asarray(tx), np.asarray(ty)
        keys, counts = np.unique(np.stack([tx, ty], 1), axis=0, return_counts=True)
        btx, bty = keys[np.argmax(counts)]
        sel = xy[(tx == btx) & (ty == bty)]
        px = kr.world_to_pixel(sel, grid.geotransform(TILE_ZOOM, btx, bty))
        size = grid.tile_size

        def burn_tile(_):
            img = np.zeros((size, size), dtype=np.uint16)
            kr.rasterize_geometry(img, kwkb.MULTIPOINT, px, 1.0, kr.MERGE_ADD)
            return kck.checksum(img)

        b.layer["kernels.rasterize_tile_s"] = 1.0 / _rate(burn_tile, range(3))
        big = np.random.RandomState(b.seed).randint(0, 65535, (1024, 1024)).astype(np.uint16)
        b.layer["kernels.checksum_mpx_per_s"] = _rate(kck.checksum, [big] * 3) * big.size / 1e6

        wkbs = [kwkb.wkb_point(x, y) for x, y in xy[:2000]]
        wkbs += list(fx.polygons_pandas()["wkb"].map(bytes)) * 20
        b.layer["kernels.wkb_per_s"] = _rate(kwkb.parse_wkb, wkbs)
