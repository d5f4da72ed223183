"""Host facts and an outside-in memory sampler for the benchmark.

Nothing here touches Spark: the facts are read from ``/proc`` and the
installed packages, and the sampler reads the resident set size of the
benchmark's child processes (the driver JVM and the Python workers it
forks) from ``/proc/<pid>/status``.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time

# a run that starts while more than this share of the CPUs is busy is
# flagged: its timings measure the other tenant as much as the engine
BUSY_CPU_FRAC = 0.5


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cpu_ticks():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    return sum(vals), idle


def cpu_busy_frac(window_s: float = 0.5) -> float:
    """Share of all CPUs busy over ``window_s`` -- unlike the 1-minute
    load average it does not remember the previous run's load."""
    total0, idle0 = _cpu_ticks()
    time.sleep(window_s)
    total1, idle1 = _cpu_ticks()
    dt = total1 - total0
    return 0.0 if dt <= 0 else 1.0 - (idle1 - idle0) / dt


def git_commit(root: str) -> str:
    """HEAD of ``root`` or ``"unknown"`` (a plain source export has no
    repository)."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip()


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _children_map() -> dict:
    kids: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 is the ppid; the command name (field 2) may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int, kids: dict | None = None) -> list:
    kids = _children_map() if kids is None else kids
    out, stack = [], list(kids.get(pid, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process's descendants (JVM plus
    Python workers) on a background thread; ``peak_mb`` is the largest
    sum seen since the last ``reset``, ``peak_jvm_mb`` the largest RSS
    of the direct children (the JVM) alone and ``peak_python_mb`` the
    largest sum over the JVM's descendants (the Python worker daemon
    and the workers it forks)."""

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._peak = 0
        self._peak_jvm = 0
        self._peak_python = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="rss-sampler", daemon=True
        )

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._interval):
            kids = _children_map()
            jvm = sum(_rss_bytes(p) for p in kids.get(me, ()))
            python = sum(
                _rss_bytes(p) for c in kids.get(me, ())
                for p in descendants(c, kids)
            )
            with self._lock:
                self._peak = max(self._peak, jvm + python)
                self._peak_jvm = max(self._peak_jvm, jvm)
                self._peak_python = max(self._peak_python, python)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0
            self._peak_jvm = 0
            self._peak_python = 0

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    @property
    def peak_jvm_mb(self) -> float:
        with self._lock:
            return self._peak_jvm / 2**20

    @property
    def peak_python_mb(self) -> float:
        with self._lock:
            return self._peak_python / 2**20

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
