"""Summary statistics and the memory sampler."""

from __future__ import annotations

import math
import os
import threading


def tail(xs: list[float], beyond: int = 10) -> dict:
    """The highest percentile that has at least ``beyond`` samples above
    it: value, percentile and sample count (value None when the run
    holds too few samples for any such percentile)."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return {"value": None, "percentile": None, "n": n}
    i = n - beyond - 1
    return {"value": s[i], "percentile": round(100.0 * (i + 1) / n, 1), "n": n}


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int) -> int:
    """Resident set of ``root`` and all its descendants."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return total


class PeakRss:
    """Samples the resident memory of a process tree (the Spark JVM and
    the Python workers it forks) every ``interval`` seconds and keeps
    the peak."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root = root_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
