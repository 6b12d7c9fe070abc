"""Host fingerprint, CPU steal and process-tree RSS, read from /proc.

Walls are reported raw; steal is recorded beside them, never used to
rescale a metric.
"""

from __future__ import annotations

import os
import platform
import threading
import time


def fingerprint(spark) -> dict:
    """CPU model, nproc, RAM and the Python, PySpark and Java versions;
    Java's from the running driver JVM, so no process is started."""
    cpu = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    import pyspark

    prop = spark.sparkContext._jvm.java.lang.System.getProperty
    return {
        "cpu_model": cpu,
        "nproc": os.cpu_count(),
        "ram_mb": ram_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": f"{prop('java.vm.name')} {prop('java.runtime.version')}",
    }


def ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        return int(fh.readline().split()[1]) // 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs since boot."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def process_start_epoch() -> float:
    """Wall-clock time this process started (from /proc, so it includes
    interpreter start-up and imports before any benchmark code ran)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[int]:
    """Pids of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants() -> list[int]:
    return [p for p in _tree(os.getpid()) if p != os.getpid()]


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie waiting to be reaped has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def engine_pids() -> list[int]:
    """This process, the driver JVM it started and the Python daemon and
    workers below that. Other descendants are left out: the JVM forks
    short-lived helpers (local-filesystem shell commands) whose RSS,
    shared copy-on-write with the JVM, would count the JVM twice."""
    me = os.getpid()
    out = [me]
    for pid in _tree(me)[1:]:
        if _comm(pid).startswith("python") or (_comm(pid) == "java" and _ppid(pid) == me):
            out.append(pid)
    return out


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except OSError:
        return -1


class RssSampler:
    """Samples the summed RSS of ``engine_pids`` (driver JVM + Python
    workers) on a background thread inside its ``with`` block;
    ``peak_mb`` is the largest sample seen."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            kb = sum(_rss_kb(p) for p in engine_pids())
            self.peak_kb = max(self.peak_kb, kb)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
