"""Process-tree CPU and memory from ``/proc``.

The engine runs as three kinds of process: this driver interpreter,
the JVM it launches, and the Python workers the JVM forks.  Executor
CPU time from Spark's status store covers only JVM task threads, so
CPU and resident memory are read here for the whole tree.

CPU of a process counts its own user+system time plus that of children
it has reaped (``cutime``/``cstime``), so the sum over the living tree
stays monotone when a worker exits and is reaped inside the tree.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.1  # RSS sampling interval


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def parent_map() -> dict[int, int]:
    """pid -> ppid for every visible process."""
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                out[int(name)] = int(f[1])
    return out


def descendants(root: int, parents: dict[int, int] | None = None) -> list[int]:
    """``root``'s descendants (not ``root`` itself)."""
    parents = parent_map() if parents is None else parents
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pids) -> float:
    """Summed user+system CPU, reaped children included."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class TreeMonitor:
    """Samples the summed RSS of this process's tree in a background
    thread, and keeps the JVM's descendant set fresh for cheap reads of
    Python-worker CPU at span boundaries."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss_mb = 0.0
        self.jvm_pid: int | None = None
        self._tree: list[int] = [self.root]
        self._workers: list[int] = []
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="tree-monitor", daemon=True)

    def start(self) -> "TreeMonitor":
        self.refresh()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def refresh(self) -> None:
        parents = parent_map()
        tree = [self.root] + descendants(self.root, parents)
        workers = descendants(self.jvm_pid, parents) if self.jvm_pid else []
        with self._lock:
            self._tree, self._workers = tree, workers
        rss = rss_mb(tree)
        if rss > self.peak_rss_mb:
            self.peak_rss_mb = rss

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            self.refresh()

    def tree_cpu_s(self) -> float:
        """CPU of the whole tree: driver, JVM and Python workers."""
        self.refresh()
        with self._lock:
            return cpu_seconds(self._tree)

    def worker_cpu_s(self) -> float:
        """CPU of the JVM's descendants (the Python workers), from the
        last refreshed pid set -- cheap enough for every span edge."""
        with self._lock:
            pids = list(self._workers)
        return cpu_seconds(pids)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def calibration_kernel_s() -> float:
    """Wall time of a fixed pure-Python integer kernel: a host-speed
    probe, comparable across runs on the same machine."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    assert acc >= 0
    return time.perf_counter() - t
