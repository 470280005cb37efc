"""Run scaffolding shared by the workloads: the per-run scratch
directory, Spark start/stop, the timed loop, output checks and the
JVM + Python-worker memory probe.

Everything a run writes lives under ``perfbench/.work/<run>`` (removed
when the run ends) or ``perfbench/results``.
"""

from __future__ import annotations

import os
import shlex
import shutil
import statistics
import subprocess
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
BENCH_DIR = ROOT / "perfbench"
WORK_ROOT = BENCH_DIR / ".work"
RESULTS_DIR = BENCH_DIR / "results"

# The host has 4 cores; every workload runs on all of them.
CORES = 4
# JVM heap for the benchmark's driver.  The package default (8g) is
# sized for a dedicated host; the benchmark shares its machine.  The
# heap is committed and touched at start with a fixed young generation,
# so the JVM's resident size does not follow the collector's adaptive
# sizing from run to run.
DRIVER_MEM = "2g"
# A timed loop always completes at least this many operations so
# that the reported median has company even when one op is slow.
MIN_TIMED_OPS = 3


def input_seed(seed: int) -> int:
    """The 32-bit seed the input generators use for the CLI's ``--seed``.

    ``--seed`` is any integer; numpy's ``RandomState`` takes only
    0 <= seed < 2**32, so the CLI seed is hashed into that range."""
    return int(np.random.SeedSequence(seed % 2**64).generate_state(1)[0])


class Checks:
    """Counts operations attempted and failed (raised, or wrong output)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 50:
                self.problems.append(f"{name}: {detail}"[:500])
        return ok

    def equal(self, name: str, got, want) -> bool:
        return self.record(name, got == want, f"got {got!r}, want {want!r}")


def configure_environment(work: Path, trace: bool) -> Path | None:
    """Point Spark, the JVM and Python workers at the run's scratch
    directory.  Returns the event-log directory when tracing."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -Xmn512m "
                 "-XX:+AlwaysPreTouch")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
    }
    event_dir = None
    if trace:
        event_dir = work / "eventlog"
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            # the default zstd codec has no reader in this Python
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_dir.as_uri(),
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return event_dir


def start_spark(cores: int):
    from gdal_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the Python worker daemon exits on its own once the JVM is gone
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def _descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(path: str) -> int:
    """utime + stime + cutime + cstime from a /proc stat file."""
    try:
        with open(path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(f) for f in fields[11:15])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads (they never exit)."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                name = fh.read()
        except OSError:
            continue
        if "CompilerThre" in name:
            ticks += _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
    return ticks


def tree_cpu_s(pid: int | None) -> float:
    """CPU seconds used so far by this process, ``pid`` (the JVM) and
    every descendant of it (exited workers are in their reaper's
    cutime/cstime), less the JVM's JIT compiler threads: JIT work is
    warm-up that trails into the first timed ops by a varying amount."""
    own = os.times()
    total = own.user + own.system
    if pid is None:
        return total
    kids = _children_map()
    ticks, todo = -_jit_ticks(pid), [pid]
    while todo:
        p = todo.pop()
        ticks += _cpu_ticks(f"/proc/{p}/stat")
        todo.extend(kids.get(p, ()))
    return total + ticks / _TICK


def tree_peak_rss_mb(pid: int | None) -> tuple[float, float]:
    """VmHWM of ``pid`` (the JVM) and the sum over its descendants
    (the Python worker daemon and the workers it forked), in MB."""
    if pid is None:
        return 0.0, 0.0
    workers = sum(_hwm_kb(p) for p in _descendants(pid))
    return _hwm_kb(pid) / 1024.0, workers / 1024.0


class Run:
    """State of one benchmark run: arguments, scratch space, Spark,
    checks, timings and the traced spans."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, cores: int = CORES, scale: float = 1.0):
        self.workload = workload
        self.seed = input_seed(seed)
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.scale = scale
        self.work = WORK_ROOT / f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.checks = Checks()
        self.setup_wall: dict[str, float] = {}
        self.setup_cpu: dict[str, float] = {}
        self.detail: dict = {}
        self.layer: dict[str, float] = {}
        self.spark = None
        self.tracer = None
        self.event_dir: Path | None = None
        self._jvm_mb = 0.0
        self._workers_mb = 0.0

    # ---- lifecycle ---------------------------------------------------
    def start(self) -> None:
        from .tracing import Tracer

        if self.work.exists():
            shutil.rmtree(self.work)
        self.work.mkdir(parents=True)
        self.event_dir = configure_environment(self.work, self.trace)
        with self.setup_step("session_start_s"):
            self.spark = start_spark(self.cores)
        self.tracer = Tracer(self.spark.sparkContext, self.trace,
                             run_id=self.work.name)

    def sample_rss(self) -> None:
        jvm, workers = tree_peak_rss_mb(jvm_pid())
        self._jvm_mb = max(self._jvm_mb, jvm)
        self._workers_mb = max(self._workers_mb, workers)
        self.detail["rss_mb"] = {"jvm": self._jvm_mb, "python_workers": self._workers_mb}

    @property
    def peak_rss_mb(self) -> float:
        return self._jvm_mb + self._workers_mb

    def stop(self) -> None:
        if self.spark is not None:
            self.sample_rss()
            stop_spark(self.spark)
            self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    def path(self, name: str) -> str:
        return str(self.work / name)

    # ---- measurement helpers -----------------------------------------
    def _clock(self) -> tuple[float, float]:
        """(wall seconds, CPU seconds of the driver + JVM + workers)."""
        return time.perf_counter(), tree_cpu_s(jvm_pid())

    @contextmanager
    def setup_step(self, key: str):
        """Time one set-up step into ``setup_wall[key]`` and
        ``setup_cpu[key]``."""
        w0, c0 = self._clock()
        yield
        w1, c1 = self._clock()
        self.setup_wall[key] = self.setup_wall.get(key, 0.0) + w1 - w0
        self.setup_cpu[key] = self.setup_cpu.get(key, 0.0) + c1 - c0

    def repeated_setup(self, key: str, fn, reps: int = 3):
        """Run a set-up step ``reps`` times; record the median wall and
        CPU time and return the last result."""
        walls, cpus, out = [], [], None
        for _ in range(reps):
            w0, c0 = self._clock()
            out = fn()
            w1, c1 = self._clock()
            walls.append(w1 - w0)
            cpus.append(c1 - c0)
        self.setup_wall[key] = statistics.median(walls)
        self.setup_cpu[key] = statistics.median(cpus)
        self.detail.setdefault("setup_reps_wall_s", {})[key] = walls
        return out

    def timed_loop(self, name: str, op) -> list[float]:
        """Call ``op(i)`` until ``self.seconds`` have passed (at least
        MIN_TIMED_OPS times).  ``op`` returns None when its output
        checked out, else a description of what was wrong.  Records
        the wall and CPU time of every successful op."""
        walls: list[float] = []
        cpus: list[float] = []
        start = time.perf_counter()
        i = 0
        while i < MIN_TIMED_OPS or time.perf_counter() - start < self.seconds:
            w0, c0 = self._clock()
            with self.tracer.span(name, op=True):
                try:
                    problem = op(i)
                except Exception as exc:  # an op failure is counted, not fatal
                    problem = f"{type(exc).__name__}: {exc}"
            w1, c1 = self._clock()
            if self.checks.record(f"{name}[{i}]", problem is None, str(problem)):
                walls.append(w1 - w0)
                cpus.append(c1 - c0)
            self.sample_rss()
            i += 1
        self.detail.setdefault("op_wall_s", {})[name] = walls
        self.detail.setdefault("op_cpu_s", {})[name] = cpus
        return walls
