"""Process-tree meters, the host-speed probe and the small statistics the
benchmark reports.

CPU and RSS are read from ``/proc`` for this process and every process
below it: the Spark JVM started by PySpark and the Python workers the JVM
forks. A live process's own time is not yet in its parent's ``cutime``,
and a reaped child's time is, so summing ``utime + stime + cutime +
cstime`` over the live tree counts every CPU second once.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    todo = [root or os.getpid()]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return s[s.rindex(")") + 2:].split()


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU seconds of the process tree, reaped children
    included."""
    total = 0
    for pid in pids or tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # fields 14..17 of stat(5): utime stime cutime cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_mb(pids: list[int] | None = None) -> float:
    total = 0
    for pid in pids or tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21])          # field 24 of stat(5): rss pages
    return total * _PAGE / 2 ** 20


class RssSampler:
    """Samples the summed RSS of the process tree on a thread; ``peak_mb``
    is the largest sample.

    A sample sums only processes also present in the previous sample. A
    child the JVM forks to run a shell command shares the JVM's pages
    until it execs, and counting it read as a one-off doubling of the
    JVM's RSS in about half the runs that write files."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        seen: set[int] = set()
        while not self._stop.is_set():
            pids = tree_pids()
            self.peak_mb = max(self.peak_mb,
                               tree_rss_mb([p for p in pids if p in seen]))
            seen = set(pids)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def host_probe_ms(threads: int | None = None, n: int = 400_000,
                  reps: int = 3) -> float:
    """Wall time of a fixed multi-core numpy loop (sorts release the GIL).

    A diagnostic of host speed only: no reported metric is ever scaled or
    corrected by it."""
    threads = threads or os.cpu_count() or 1
    base = np.random.default_rng(12345).random(n)

    def work(_):
        for _ in range(reps):
            np.sort(base, kind="quicksort")

    best = float("inf")
    with ThreadPoolExecutor(threads) as ex:
        for _ in range(3):
            t0 = time.perf_counter()
            list(ex.map(work, range(threads)))
            best = min(best, time.perf_counter() - t0)
    return best * 1e3


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
