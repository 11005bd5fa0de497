"""Peak resident memory of a process tree, sampled from ``/proc``.

The benchmark's process tree is the Python driver, the Spark JVM it
launches and the JVM's Python workers. A daemon thread sums the resident
memory of every live process in the tree a few times a second and keeps the
peak. A Python process counts its proportional set size (``Pss`` of
``smaps_rollup``): pages the forked workers share are split among them
instead of being counted once per worker. The JVM counts its resident set
(``statm``): it shares little, and walking its large address space for
``smaps_rollup`` five times a second would slow the JVM being measured.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parens: split after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    return [pid for pid, _ in _tree(root)]


def _tree(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of ``root`` and all its descendants."""
    kids = _children_map()
    out, stack = [], [(root, 0)]
    while stack:
        pid, parent = stack.pop()
        out.append((pid, parent))
        stack.extend((k, pid) for k in kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm", "rb") as f:
        return int(f.read().split()[1]) * _PAGE


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of the tree. Only the JVM the root launched counts its
    resident set; a process the JVM forks is, until it execs, a copy named
    ``java`` too, and counts its proportional set like every other process
    (its resident set would count the JVM's memory twice)."""
    total = 0
    for pid, parent in _tree(root):
        try:
            with open(f"/proc/{pid}/comm", "rb") as f:
                jvm = parent == root and f.read().strip() == b"java"
            total += _rss_bytes(pid) if jvm else _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            continue  # exited between listing and reading
    return total


class PeakRss:
    """Context manager sampling the tree under ``root`` every ``interval``
    seconds; ``peak_mb`` is the largest total seen."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
