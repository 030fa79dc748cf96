"""Timing summaries and process-tree memory, read from ``/proc``."""

from __future__ import annotations

import os
import threading


def tail_rank(n: int, beyond: int = 10) -> tuple[float, int] | None:
    """The highest percentile of ``n`` samples with at least ``beyond``
    samples above it, as ``(percentile, 0-based index into the sorted
    samples)``; None when there are too few samples for any."""
    if n <= beyond:
        return None
    idx = n - beyond - 1
    return 100.0 * (idx + 1) / n, idx


def tail(samples: list[float], beyond: int = 10):
    """``(percentile, value)`` by :func:`tail_rank`, or None."""
    r = tail_rank(len(samples), beyond)
    if r is None:
        return None
    return r[0], sorted(samples)[r[1]]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _field_kb(path: str, name: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(name):
                return int(line.split()[1])
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants with shared pages
    counted once. Python processes count their proportional set size:
    summing plain RSS would count the pages every forked Python worker
    shares with its daemon once per worker. The JVM shares no pages with
    the rest of the tree, so its plain RSS is used; reading its PSS walks
    every page of the pre-touched heap and would cost the sampler tens of
    milliseconds of CPU per sample."""
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/comm") as f:
                jvm = f.read().strip() == "java"
            if jvm:
                total += _field_kb(f"/proc/{p}/status", "VmRSS:") * 1024
            else:
                total += _field_kb(f"/proc/{p}/smaps_rollup", "Pss:") * 1024
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the resident memory of this process and every descendant
    (the JVM, the Python worker daemon and its workers) on a background
    thread; ``peak_mb`` is the largest total seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2 ** 20
