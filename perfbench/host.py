"""Host guards and memory sampling: the one /proc reader of the benchmark.

A slow run is classifiable from its own output: ``steal_frac`` is the
share of CPU ticks the hypervisor took from this VM during the timed
window, and ``control_ms`` is the wall of a fixed single-thread numpy
kernel that no code change can move.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def cpu_ticks() -> tuple:
    """(steal, total) ticks from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_frac(t0: tuple, t1: tuple) -> float:
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total > 0 else 0.0


def control_ms() -> float:
    """Median wall of sorting and summing 1M fixed doubles, 5 reps."""
    a = np.random.default_rng(0).random(1_000_000)
    float(np.sort(a).sum())
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        float(np.sort(a).sum())
        walls.append(time.perf_counter() - t0)
    return float(np.median(walls)) * 1e3


def descendants(root: int) -> list:
    """Pids of every live process below ``root``."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(root: int) -> float:
    """Resident MB of every process below ``root`` (the JVM and its
    Python workers when ``root`` is the benchmark process)."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE_MB


class RssSampler:
    """Peak of ``tree_rss_mb`` sampled on a background thread while the
    ``with`` block runs."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
