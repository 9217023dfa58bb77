"""Host context for a result: write-bandwidth probe, and the process
tree's resident memory and CPU time."""

from __future__ import annotations

import os
import threading
import time


def probe_mbs() -> float:
    """Memory fill bandwidth in MB/s, the same probe as ``bench.py``: on a
    host whose page-dirtying rate drifts, a reader compares runs by it."""
    import numpy as np

    a = np.empty(100 * 1024 * 1024, dtype=np.int8)
    t0 = time.monotonic()
    a[:] = 1
    a[:] = 2
    return 200 / (time.monotonic() - t0)


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between forked Python workers
    count once across the tree instead of once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_pids(root: int) -> list[int]:
    """``root`` and every process descended from it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo += children.get(pid, [])
    return pids


def _tree_bytes(root: int) -> int:
    total = 0
    for pid in _tree_pids(root):
        try:
            total += _pss_bytes(pid)
        except OSError:  # ended since the listing
            continue
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process) and
    its descendants, including the ones they have already reaped -- the
    Spark JVM and its Python workers. Time the hypervisor steals from the
    guest is not in it, so it holds steadier than wall time on a shared
    host."""
    ticks = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended since the listing
            continue
        # utime stime cutime cstime: fields 14-17, the 12th-15th after ")"
        fields = stat[stat.rindex(")") + 2:].split()
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the resident memory (PSS) summed over this process and all
    its descendants -- the Spark JVM and its Python workers -- every
    ``interval`` seconds, and keeps the peak."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)
