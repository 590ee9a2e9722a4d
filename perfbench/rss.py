"""Peak resident memory of a process tree, sampled from /proc.

The tree is this Python driver, the JVM it launched and the JVM's Python
workers. A daemon thread sums their resident set sizes every
``INTERVAL_S`` seconds and keeps the largest sum seen.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.2


def process_tree(root: int) -> list[int]:
    """``root`` first, then every live descendant."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it are fixed
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    found, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        found += frontier
    return found


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listing and reading
    return total


class PeakRss:
    """Context manager; ``peak_mb`` holds the largest tree RSS seen."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(INTERVAL_S):
                return

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
