"""Process-tree CPU and memory, and host steal time, read from /proc.

Spark's executorCpuTime misses the Python workers, so CPU is summed over this
process and every descendant (the JVM, the Python worker daemon and its
workers). Each process's ``cutime``/``cstime`` fold in the children it has
reaped, so CPU of workers that exit during a measurement is still counted.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_RSS_INTERVAL_S = 0.1   # how often PeakRss samples the tree


def _stats() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, resident pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # fields after the parenthesised command name, which may hold spaces
        rest = raw[raw.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(rest[1]), ticks, int(rest[21]))
    return out


def _tree(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(children.get(pid, ()))
    return [p for p in seen if p in stats]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants."""
    stats = _stats()
    return sum(stats[p][1] for p in _tree(stats, os.getpid())) / _TICK


def tree_rss_mb() -> float:
    """Resident memory (MB) of this process and its descendants right now."""
    stats = _stats()
    return sum(stats[p][2] for p in _tree(stats, os.getpid())) * _PAGE / 1e6


def wait_for_children(timeout_s: float) -> None:
    """Block until this process has no descendants; raise after timeout_s."""
    deadline = time.monotonic() + timeout_s
    while len(_tree(_stats(), os.getpid())) > 1:
        if time.monotonic() > deadline:
            raise TimeoutError("child processes still running")
        time.sleep(0.1)


def steal_ticks() -> tuple[int, int]:
    """(steal, total) host CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


class PeakRss:
    """Samples the tree's resident memory on a thread; `peak_mb` is the max.

    Use as a context manager around the region to watch."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(_RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
