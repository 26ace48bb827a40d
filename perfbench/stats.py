"""Small statistics and process helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import threading

RSS_INTERVAL_S = 0.5  # short next to a micro-batch (seconds), cheap next to a core

def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; 0.0 for an empty list."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(n: int, want: float) -> float:
    """The highest percentile at or below ``want`` that still leaves at
    least ten samples beyond it (0.5 when the sample is that small)."""
    if n <= 0:
        return 0.5
    return max(0.5, min(want, 1.0 - 10.0 / n))


def _tree_rss_bytes(root_pid: int) -> int:
    """Proportional resident bytes (PSS) of ``root_pid`` and every
    descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the resident memory of this process tree (this Python
    process, the JVM and its Python workers) every ``RSS_INTERVAL_S``
    seconds; ``read()`` takes one more sample and returns the largest sum
    seen, in MB. Each process counts its PSS, so pages shared by forked
    workers are counted once in the sum."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def read(self) -> float:
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return self.peak / (1024 * 1024)
