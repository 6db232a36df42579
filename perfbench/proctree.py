"""CPU time and peak resident memory of the benchmark's process tree
(the driver, its JVM and the Python workers), read from ``/proc``.

CPU seconds count what the tree executed, not time the machine's vCPUs
were stolen by other tenants; on a shared host that makes them far
steadier than wall time."""

from __future__ import annotations

import os
import threading

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_BYTES
    except (OSError, IndexError, ValueError):
        return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime: the process and its reaped
    children, each counted once."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return sum(int(f) for f in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def _tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out.append(pid)
        todo.extend(_children(pid))
    return out


def tree_rss_bytes() -> int:
    return sum(_rss_bytes(pid) for pid in _tree(os.getpid()))


def tree_cpu_seconds() -> float:
    """CPU seconds this process's tree has used so far, live processes
    plus the reaped ones."""
    return sum(_cpu_ticks(pid) for pid in _tree(os.getpid())) / CLOCK_TICKS


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the machine's CPUs from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


class PeakRss:
    """Samples the tree's RSS every ``INTERVAL`` seconds until stopped."""

    INTERVAL = 0.25

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.INTERVAL)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())
        return False
