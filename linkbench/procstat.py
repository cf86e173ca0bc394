"""Process-tree bookkeeping from /proc: peak RSS and descendant processes.

The benchmark process starts the Spark driver JVM, which starts the Python
workers; the sampler sums the resident set of that whole tree.
"""

from __future__ import annotations

import os
import threading


def _ppids() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed it
            continue
        # the command name (field 2) may hold spaces; fields after it are fixed
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    ppid = _ppids()
    kids: dict[int, list[int]] = {}
    for child, parent in ppid.items():
        kids.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (zombies count as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class PeakRss:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, interval_s: float = 0.1):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(rss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
