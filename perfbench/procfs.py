"""Resident memory of this process's descendants (the Spark driver JVM
and its Python workers), read from ``/proc``."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while we listed
            continue
        # the command name may hold spaces; fields resume after its ')'
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    parents = _parents()
    found, frontier = [], {root}
    while frontier:
        kids = [p for p, pp in parents.items() if pp in frontier]
        found += kids
        frontier = set(kids)
    return found


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """The summed RSS of this process's descendants, sampled on demand
    and, between ``start()`` and ``stop()``, every ``interval_s`` on a
    thread; keeps the peak."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> int:
        rss = rss_bytes(descendants(os.getpid()))
        with self._lock:
            self.peak = max(self.peak, rss)
        return rss

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
