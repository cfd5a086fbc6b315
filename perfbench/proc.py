"""Memory and CPU time of the engine's processes, read from ``/proc``.

The engine runs as this Python driver plus a JVM it launches, and the JVM
forks the Python workers. The engine's processes are every descendant of
this process: JVM, worker daemon and workers. ``psutil`` is not needed.

- ``PeakRss``: a daemon thread sums their resident sets twenty times a
  second and keeps the largest sum.
- ``engine_cpu_s``: their user + system CPU seconds so far, including
  workers that exited and were reaped (their time moves into the parent's
  ``cutime``/``cstime``), so a difference of two readings is the CPU the
  engine spent in between.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    """pid → the fields of ``/proc/<pid>/stat`` after the command name."""
    out: dict[int, list[str]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue  # exited while listing
        out[int(d.name)] = stat[stat.rindex(")") + 2:].split()
    return out


def _descendants(root: int, stats: dict[int, list[str]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    found, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, []))
    return found


def descendants_rss(root: int) -> int:
    stats = _stats()
    # field 24 of stat (rss, in pages), counted from the state field
    return sum(int(stats[p][21]) for p in _descendants(root, stats)) * _PAGE


def engine_cpu_s() -> float:
    stats = _stats()
    # utime, stime, cutime, cstime: fields 14-17 of stat
    ticks = sum(sum(int(x) for x in stats[p][11:15])
                for p in _descendants(os.getpid(), stats))
    return ticks / _TICK


class PeakRss:
    """Samples until ``stop``; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
