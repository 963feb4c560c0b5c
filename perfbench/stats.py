"""Sample statistics and process memory for the benchmark's metrics."""

from __future__ import annotations

import math
import os
import re
import threading

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(values: list[float], q: float) -> float | None:
    """The q-th percentile (nearest rank), or None when fewer than
    MIN_BEYOND samples lie beyond it: such a tail is not reported."""
    n = len(values)
    rank = max(1, math.ceil(q / 100 * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


# -- memory from /proc (psutil is not available) -----------------------------

def _status_kb(pid: int, field: str) -> int:
    """A ``kB`` field of /proc/<pid>/status; 0 when the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _parents() -> dict[int, int]:
    """pid -> parent pid for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command name may hold spaces: the ppid follows the last ')'
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def descendants(pid: int) -> list[int]:
    parents = _parents()
    children: dict[int, list[int]] = {}
    for child, parent in parents.items():
        children.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except (FileNotFoundError, ProcessLookupError):
        return False


class PeakRss:
    """Peak resident memory of the driver, its JVM and the JVM's Python workers.

    The driver and JVM report their own high-water marks (VmHWM); Python
    workers come and go, so their summed RSS is sampled on a thread.
    """

    def __init__(self, interval_s: float = 0.25):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.jvm_pid: int | None = None
        self._jvm_hwm_kb = 0
        self.workers_peak_kb = 0

    def start(self) -> None:
        for pid in descendants(os.getpid()):
            if _is_java(pid):
                self.jvm_pid = pid
                break
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._stop.wait(self._interval):
            if self.jvm_pid is None:
                continue
            kb = sum(_status_kb(p, "VmRSS") for p in descendants(self.jvm_pid))
            self.workers_peak_kb = max(self.workers_peak_kb, kb)

    def stop(self) -> None:
        """Read the JVM's high-water mark and stop sampling; call before
        the JVM exits."""
        if self.jvm_pid is not None:
            self._jvm_hwm_kb = _status_kb(self.jvm_pid, "VmHWM")
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def parts_mb(self) -> dict[str, float]:
        return {"driver": _status_kb(os.getpid(), "VmHWM") / 1024,
                "jvm": self._jvm_hwm_kb / 1024,
                "workers": self.workers_peak_kb / 1024}

    def peak_mb(self) -> float:
        return sum(self.parts_mb().values())


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used by a process and all its descendants, reaped
    children included. The kernel does not charge hypervisor steal to a
    process, so this counts the work done, not the time waited for a CPU."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """Aggregate /proc/stat CPU counters (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two samples."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))
