"""Peak proportional set size (PSS) of this process's descendants.

The Spark JVM and the Python workers it forks share pages, so their VmRSS
values double-count; PSS divides every shared page among its sharers and
sums to the real footprint.  The benchmark's own process (inputs and
references) is excluded.
"""

from __future__ import annotations

import os
import threading
import time

#: reading the JVM's smaps_rollup walks the page tables of its whole
#: pre-touched heap (about 27 ms for 2 GB on a 4-core host) and holds its
#: memory-map lock meanwhile; every 0.1 s that took a quarter of a core
#: from the program under test
INTERVAL_S = 0.5


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
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakPss:
    """Context manager sampling the descendants' summed PSS every
    ``INTERVAL_S`` seconds on a background thread; ``peak_mb(t0, t1)`` is
    the highest sample taken between two ``time.perf_counter()`` times."""

    def __init__(self):
        self.samples: list[tuple[float, int]] = []   # (time, PSS kB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            total = sum(pss_kb(p) for p in descendants(me))
            self.samples.append((time.perf_counter(), total))
            if self._stop.wait(INTERVAL_S):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def peak_mb(self, t0: float, t1: float) -> float:
        """Highest sample between ``t0`` and ``t1``; for an interval shorter
        than the sampling period, the first sample after ``t1``."""
        inside = [kb for t, kb in self.samples if t0 <= t <= t1]
        if not inside:
            inside = [kb for t, kb in self.samples if t > t1][:1]
        return max(inside, default=0) / 1024.0
