"""Span recorder for the traced run, and the fold of Spark's event log
into those spans.

A span is recorded around each call into a layer of the engine made
from the benchmark's own files: name, start, end, parent span and the
run id.  Every span sets its own Spark job group, so the stages of
every job it launched can be found in the event log afterwards
(``SparkListenerJobStart`` carries the group, ``SparkListenerStageCompleted``
the stage's task metrics).  With tracing off, ``span`` does nothing.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

# Per-stage counters folded from the event log.  Stage accumulables
# named like the key (summed when a stage has several plan nodes
# reporting the same SQL metric) -> (counter, scale to the unit).
_ACCUMS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to start Python workers": ("python_init_s", 1e-3),
    "data sent to Python workers": ("arrow_to_python_bytes", 1),
    "data returned from Python workers": ("arrow_from_python_bytes", 1),
    "internal.metrics.shuffle.write.recordsWritten": ("shuffle_records", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}
COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "python_run_s", "python_init_s", "arrow_to_python_bytes",
            "arrow_from_python_bytes", "shuffle_records", "shuffle_bytes",
            "spill_bytes")


class Tracer:
    def __init__(self, sc, enabled: bool, run_id: str):
        self.sc = sc
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: bool = False):
        """Record a span; ``op`` marks one timed operation of the
        workload's loop."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{self.run_id}:{sid}",
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it covered by child spans."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - _union_length(kids.get(s["id"], []))
            for s in spans}


def read_event_log(event_dir: Path) -> dict[str, dict]:
    """Fold the event log into per-job-group counters, plus the
    [submission, completion] interval of every stage (epoch seconds)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def grp(g: str) -> dict:
        if g not in groups:
            groups[g] = {c: 0 for c in COUNTERS}
            groups[g]["stage_intervals"] = []
        return groups[g]

    for path in sorted(event_dir.rglob("events_*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    grp(g)["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    rec = grp(stage_group.get(info["Stage ID"], ""))
                    rec["stages"] += 1
                    rec["tasks"] += info["Number of Tasks"]
                    if info.get("Submission Time") and info.get("Completion Time"):
                        rec["stage_intervals"].append(
                            (info["Submission Time"] / 1e3,
                             info["Completion Time"] / 1e3))
                    for acc in info.get("Accumulables", []):
                        hit = _ACCUMS.get(acc.get("Name"))
                        if hit is not None:
                            rec[hit[0]] += float(acc["Value"]) * hit[1]
    return groups


def fold(tracer: Tracer, event_dir: Path | None) -> dict:
    """Attach event-log counters to each span (its own job group plus
    its descendants') and compute self times.  Returns a per-span-name
    summary for the detail file and the per-op Spark counters."""
    groups = read_event_log(event_dir) if event_dir else {}
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    own = {s["id"]: groups.get(s["group"]) for s in spans}
    for s in spans:
        s["spark"] = {c: 0 for c in COUNTERS}
        s["stage_intervals"] = []
    for s in spans:
        rec = own[s["id"]]
        if rec is None:
            continue
        node = s
        while node is not None:           # credit the span and its ancestors
            for c in COUNTERS:
                node["spark"][c] += rec[c]
            node["stage_intervals"].extend(rec["stage_intervals"])
            node = by_id.get(node["parent"])
    selfs = self_times(spans)
    summary: dict[str, dict] = {}
    for s in spans:
        row = summary.setdefault(s["name"], {"n": 0, "wall_s": 0.0,
                                             "self_s": 0.0,
                                             **{c: 0 for c in COUNTERS}})
        row["n"] += 1
        row["wall_s"] += s["end"] - s["start"]
        row["self_s"] += selfs[s["id"]]
        for c in COUNTERS:
            row[c] += s["spark"][c]

    per_op: dict[str, list[float]] = {c: [] for c in COUNTERS + ("driver_gap_s",)}
    for s in spans:
        if not s["op"]:
            continue
        for c in COUNTERS:
            per_op[c].append(s["spark"][c])
        busy = _union_length([(max(a, s["start"]), min(b, s["end"]))
                              for a, b in s["stage_intervals"] if b > s["start"]])
        per_op["driver_gap_s"].append((s["end"] - s["start"]) - busy)
    spark_per_op = {c: (statistics.median(v) if v else 0.0)
                    for c, v in per_op.items()}
    unattributed = groups.get("", {})
    return {"spans": summary, "spark_per_op": spark_per_op,
            "untagged_jobs": unattributed.get("jobs", 0)}
