"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Prints, as the last line of stdout, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The full record of the run (op times, set-up steps, check problems,
span summary) goes to ``perfbench/results/``.

A traced run reports its tracing overhead against the untraced runs of
the same workload recorded in ``perfbench/results/`` (running one in a
child process when there are none yet).  On bulk_join it also runs
the join on one core over a quarter of the points, in a child
process, for the scaling efficiency.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness, tracing  # noqa: E402
from perfbench.metrics import (ALL_WORKLOADS, END_TO_END,  # noqa: E402
                               ITEM_ALIASES, PER_LAYER)

# A child run times only MIN_TIMED_OPS operations (``--seconds 0``),
# so the traced run and its children together end well inside the
# 180 s a run may take.
CHILD_TIMEOUT_S = 75


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=ALL_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the traced run's one-core scaling child
    ap.add_argument("--cores", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _child(args, cores: int | None = None, scale: float = 1.0) -> dict:
    """Run this benchmark untraced in a child process, timing only
    MIN_TIMED_OPS operations; return the throughputs from its detail
    file."""
    cmd = [sys.executable, str(Path(__file__).resolve()),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", "0", "--trace", "0",
           "--scale", str(args.scale * scale)]
    if cores:
        cmd += ["--cores", str(cores)]
    # its own process group, so a timeout also ends its JVM and workers
    proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if rc != 0:
        raise subprocess.CalledProcessError(rc, cmd)
    child = argparse.Namespace(**{**vars(args), "seconds": 0.0, "trace": 0, "cores": cores,
                                  "scale": args.scale * scale})
    return _throughputs(harness.RESULTS_DIR / _result_name(child))


def _throughputs(path: Path) -> dict:
    with open(path) as fh:
        d = json.load(fh)
    return {"items_per_s": d["items_per_s"],
            "items_per_cpu_s": d["end_to_end"]["items_per_cpu_s"]}


def _median_rate(items: int, op_seconds: list[float]) -> float:
    return items / statistics.median(op_seconds)


def _untraced_baseline(args) -> dict:
    """Median throughputs of the untraced runs of this workload already
    recorded in the results directory; when there are none, one is run
    now in a child process."""
    found = [_throughputs(p) for p in harness.RESULTS_DIR.glob(
        f"{args.workload}-seed*-trace0{_suffix(args.scale)}.json")]
    if not found:
        found = [_child(args)]
    return {k: statistics.median(f[k] for f in found) for k in found[0]}


def _suffix(scale: float, cores: int | None = None) -> str:
    return ((f"-cores{cores}" if cores else "")
            + (f"-scale{scale:g}" if scale != 1.0 else ""))


def _result_name(args) -> str:
    return (f"{args.workload}-seed{args.seed}-trace{args.trace}"
            f"{_suffix(args.scale, args.cores)}.json")


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        workload = importlib.import_module(f"perfbench.{args.workload}")
        from perfbench import kernels_micro
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2

    baseline = scaling = None
    if args.trace:
        baseline = _untraced_baseline(args)
        if args.workload == "bulk_join":
            scaling = _child(args, cores=1, scale=0.25)

    b = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                    cores=args.cores or harness.CORES, scale=args.scale)
    t_start = time.perf_counter()
    try:
        b.start()
        items = workload.run(b)
        if args.trace:
            kernels_micro.run(b)
        b.stop()
    except Exception:
        traceback.print_exc()
        b.stop()
        b.cleanup()
        return 1

    walls = [t for ts in b.detail.get("op_wall_s", {}).values() for t in ts]
    cpus = [t for ts in b.detail.get("op_cpu_s", {}).values() for t in ts]
    if not walls:
        print("perfbench: no timed operation succeeded", file=sys.stderr)
        print(json.dumps(b.checks.problems[:5]), file=sys.stderr)
        b.cleanup()
        return 1
    rate = getattr(workload, "rate", _median_rate)
    e2e = {"setup_s": sum(b.setup_cpu.values()),
           "items_per_cpu_s": rate(items, cpus),
           "peak_rss_mb": b.peak_rss_mb}
    items_per_s = rate(items, walls)
    alias, alias_unit = ITEM_ALIASES[args.workload]

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": b.cores, "scale": args.scale,
        "wall_s": time.perf_counter() - t_start,
        "end_to_end": e2e, "items_per_s": items_per_s,
        alias: {"value": items_per_s, "unit": alias_unit},
        "setup_wall_total_s": sum(b.setup_wall.values()),
        "failed_ops_ratio": b.checks.failed / max(1, b.checks.attempted),
        "setup_cpu_s": b.setup_cpu, "setup_wall_s": b.setup_wall,
        "problems": b.checks.problems, **b.detail,
    }
    if args.trace:
        folded = tracing.fold(b.tracer, b.event_dir)
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(b.layer)
        layer["session.start_s"] = b.setup_wall["session_start_s"]
        for c, v in folded["spark_per_op"].items():
            layer[f"spark.{c}"] = v
        layer["spark.trace_overhead"] = baseline["items_per_cpu_s"] / e2e["items_per_cpu_s"] - 1.0
        if scaling is not None:
            layer["spatial_join.scaling_eff"] = baseline["items_per_s"] / (4 * scaling["items_per_s"])
        detail.update(per_layer=layer, spans=folded["spans"],
                      untagged_jobs=folded["untagged_jobs"],
                      untraced_baseline=baseline, one_core_quarter=scaling)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, (u, _) in END_TO_END.items()}

    harness.RESULTS_DIR.mkdir(parents=True, exist_ok=True)
    with open(harness.RESULTS_DIR / _result_name(args), "w") as fh:
        json.dump(detail, fh, indent=1, default=float)
    b.cleanup()

    print(json.dumps({"correct": b.checks.failed == 0,
                      "attempted": b.checks.attempted,
                      "failed": b.checks.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
