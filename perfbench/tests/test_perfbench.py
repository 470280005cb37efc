"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The last test runs two traced runs of media_decode at a tenth of its
size (about three minutes on a 4-core host).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import harness, inputs, tracing  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def test_benchmark_json_lists_the_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def _offline_run(seconds=0.0):
    run = harness.Run("bulk_join", 1, seconds, trace=False)
    run.tracer = tracing.Tracer(None, False, "offline")
    return run


def test_any_integer_seed_makes_inputs():
    seeds = (0, 1, 4_294_967_295, 4_294_967_296, 10**30, -1, -7)
    derived = [harness.input_seed(s) for s in seeds]
    assert len(set(derived)) == len(seeds)
    assert all(0 <= d < 2**32 for d in derived)
    assert harness.input_seed(12345) == harness.input_seed(12345)
    for d in derived:
        np.random.RandomState([d, 1])      # the AVI and query-order streams
    pd.testing.assert_frame_equal(inputs.skewed_points(50, derived[2]),
                                  inputs.skewed_points(50, derived[2]))
    assert harness.Run("query_mix", -7, 0.0, trace=False).seed == derived[-1]


def test_wrong_output_is_a_failed_op():
    run = _offline_run()
    answers = iter([None, "digest differs"] + [None] * harness.MIN_TIMED_OPS)
    times = run.timed_loop("op", lambda i: next(answers))
    assert (run.checks.attempted, run.checks.failed) == (harness.MIN_TIMED_OPS, 1)
    assert len(times) == harness.MIN_TIMED_OPS - 1
    assert "digest differs" in run.checks.problems[0]


def test_raising_op_is_a_failed_op():
    run = _offline_run()

    def op(i):
        if i == 0:
            raise ValueError("corrupt payload")

    run.timed_loop("op", op)
    assert (run.checks.attempted, run.checks.failed) == (harness.MIN_TIMED_OPS, 1)


def test_pair_digest_sees_a_moved_pair():
    ids, fids = np.arange(1000), np.arange(1000) % 10
    want = inputs.pair_digest(ids, fids)
    moved = fids.copy()
    moved[17] = (moved[17] + 1) % 10
    assert inputs.pair_digest(ids, moved) != want
    assert inputs.pair_digest(ids[::-1], fids[::-1]) == want


def test_pip_reference_agrees_with_brute_force():
    from gdal_spark.kernels import pip as kpip

    pts = inputs.skewed_points(5000, 3)
    x, y = pts["x"].to_numpy(), pts["y"].to_numpy()
    got = {(int(i), f) for idx, f in inputs.pip_pairs(x, y, chunk=700) for i in idx}
    want = {(int(i), f) for f, rings in inputs.polygon_rings().items()
            for i in np.nonzero(kpip.points_in_polygon(x, y, rings))[0]}
    assert got == want and got


def test_media_row_compare_flags_a_wrong_feature():
    from gdal_spark.kernels import media as km
    from perfbench.media_decode import compare_rows, expected_digest

    payloads, want = inputs.media_payloads(40, 5)
    decode = {"jpeg": km.jpeg_features, "png": km.png_features,
              "bmp": km.bmp_features, "wav": km.wav_features}
    rows = []
    for did, kind, blob in payloads.itertuples(index=False):
        row = inputs._feature_row(did, kind)
        row.update(decode[kind](blob))
        rows.append(row)
    got = pd.DataFrame(rows)
    assert compare_rows(got, want, ["doc_id"]) == []
    got.loc[5, "mean_g"] += 1 / 256
    assert compare_rows(got, want, ["doc_id"])
    assert expected_digest(got) != expected_digest(want)


def test_tile_reference_changes_when_a_point_moves():
    from gdal_spark.kernels.cells import TileGrid
    from gdal_spark.sources import fixtures as fx
    from perfbench.tile_pipeline import expected_tiles

    grid = TileGrid.local(*fx.POLY_BBOX)
    docs = fx.docs_pandas(3000, 4)
    want = expected_tiles(docs, grid)
    assert sum(len(t) for t in want.values()) > 0
    spans = [dict(s) for s in docs.loc[0, "spans"]]
    geo = next(s for s in spans if s["kind"] == "geo")
    geo["text"] = "POINT(480900.5 4763300.5)"      # inside a fixture polygon
    docs.loc[0, "spans"] = spans
    assert expected_tiles(docs, grid) != want


def test_self_time_excludes_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 2, "start": 3.5, "end": 4.5},
    ]
    assert tracing.self_times(spans) == {0: 5.0, 1: 3.0, 2: 2.0, 3: 1.0}


def _traced(seed: int) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload",
           "media_decode", "--seed", str(seed), "--seconds", "1", "--trace", "1",
           "--scale", "0.1"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=600, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_traced_plan_counters_repeat_exactly():
    first, second = _traced(7), _traced(7)
    assert first["correct"] and second["correct"]
    for name in ("spark.stages", "spark.tasks", "spark.shuffle_records",
                 "spark.arrow_to_python_bytes", "spark.arrow_from_python_bytes"):
        assert first["metrics"][name] == second["metrics"][name], name
    assert first["metrics"]["spark.arrow_to_python_bytes"]["value"] > 0
