"""CPU time and resident memory of this process and all its descendants.

The tree is the driver Python process, the Spark JVM it launches and
the Python workers the JVM forks, read from ``/proc`` (Linux only).
CPU includes ``cutime``/``cstime`` so work of exited, reaped children
(short-lived Python workers) stays counted by their parent.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """user+system CPU of the tree, own and reaped children."""
    total = 0
    for pid in pids or tree_pids():
        fields = _stat_fields(pid)
        if fields:
            # utime stime cutime cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def rss_bytes(pids: list[int] | None = None) -> int:
    total = 0
    for pid in pids or tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the summed RSS of a given list of pids on a background
    thread; ``peak`` is the largest sample between ``start()`` and
    ``stop()``.

    The caller passes the tree's pids with ``watch`` (``measure`` lists
    them at every op boundary anyway), so a sample reads only those
    pids' ``statm`` and never scans all of ``/proc``. ``cpu_s`` is the
    CPU the sampling thread used, so its share of the measured CPU can
    be reported."""

    def __init__(self, pids: list[int], interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.samples = 0
        self.cpu_s = 0.0
        self._pids = list(pids)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def watch(self, pids: list[int]) -> None:
        self._pids = list(pids)
        self._sample()

    def _sample(self) -> None:
        t0 = time.thread_time()
        self.peak = max(self.peak, rss_bytes(self._pids))
        self.samples += 1
        self.cpu_s += time.thread_time() - t0

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak
