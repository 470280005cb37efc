"""The Python worker pools a fresh Spark session starts.

``daemons_after(script, ...)`` runs a script in a new Python process,
with the repo and this directory on its path.  The script builds its
own session and prints ``DAEMONS`` and the JSON list that
``python_daemons(spark)`` returns: the ``gdal_spark.worker_daemon``
processes under the session's JVM.  Each is a pool's root; its workers
are forks of it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for e in os.scandir("/proc"):
        if e.name.isdigit():
            try:
                with open(f"/proc/{e.name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            kids.setdefault(ppid, []).append(int(e.name))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode()
    except OSError:
        return ""


def python_daemons(spark) -> list[int]:
    """Pids of the worker daemons under ``spark``'s JVM."""
    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    kids, daemons, todo = _children(), [], [jvm]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            if "gdal_spark.worker_daemon" in _cmdline(c):
                daemons.append(c)
            else:
                todo.append(c)
    return daemons


def daemons_after(script: str, *args: str) -> list[list[int]]:
    """Every ``DAEMONS`` list that ``script`` printed, in order."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([_REPO, _HERE]),
               SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", script, *args], env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return [json.loads(s.split(" ", 1)[1]) for s in out.stdout.splitlines()
            if s.startswith("DAEMONS ")]
