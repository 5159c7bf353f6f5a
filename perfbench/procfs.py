"""Process-tree CPU and memory, and host contention, read from /proc.

The tree is this Python process and every descendant: the Spark driver
JVM and the Python workers it forks. CPU of descendants that already
exited and were reaped is in their parent's cutime/cstime, so summing
utime+stime+cutime+cstime over the live tree counts each exited process
once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return s[s.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat (1-based): utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    pages = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            pages += int(f[21])  # field 24: rss in pages
    return pages * _PAGE / 2**20


def process_age_s() -> float:
    """Seconds since this process started (stat field 22, in ticks since
    boot, against /proc/uptime)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def contention(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return {"steal_share": round(d[7] / total, 4),
            "iowait_share": round(d[4] / total, 4)}


class RssSampler:
    """Background peak of the tree's summed RSS while running."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
