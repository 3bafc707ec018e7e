"""CPU time and resident memory of a process and all its descendants, read
from /proc: the workload process, the Spark JVM it launches and the Python
workers the JVM forks.

CPU counts ``utime + stime + cutime + cstime`` of every live process in the
tree, so a worker that exits and is reaped by a tree member keeps counting
through its parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesised and may itself contain spaces
    return raw[raw.rindex(")") + 2:].split()


def start_time(pid: str) -> str | None:
    """The process's start time in clock ticks since boot (stat field 22):
    with the pid it names one process even after the pid is reused."""
    fields = _stat_fields(pid)
    return fields[19] if fields else None


def alive(pid: str, start: str | None) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z" and fields[19] == start


def tree_pids(root: int) -> list[str]:
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                children.setdefault(fields[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int) -> float:
    pages = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            pass
    return pages * _PAGE / 1048576


def host_ticks() -> list[int]:
    """The host's aggregate CPU ticks: user, nice, system, idle, iowait,
    irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_share(before: list[int], after: list[int]) -> dict:
    """Busy and steal shares of all host CPU time between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": (total - d[3] - d[4]) / total, "steal": d[7] / total}


class PeakRss:
    """Samples the tree's summed RSS on a daemon thread while the ``with`` block runs."""

    def __init__(self, root: int, interval: float = 0.5) -> None:
        self.root = root
        self.peak_mb = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
