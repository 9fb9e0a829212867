"""CPU seconds used by the benchmark's process tree over time.

The tree is this Python driver, the JVM it starts and every process
below them (PySpark's Python workers). ``CpuSampler`` reads
``/proc/<pid>/stat`` of each process in the tree every ``period``
seconds on a background thread, so a caller can ask for the CPU used
between two wall-clock instants, such as the start and end of a stream
batch the JVM ran asynchronously. Time the hypervisor steals from the
VM is not charged to a process; slower cores still are.
"""

from __future__ import annotations

import bisect
import os
import threading
import time

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is field 3 of proc(5): ppid is 4, utime..cstime are 14-17
    return int(fields[1]), sum(int(x) for x in fields[11:15]) * TICK_S


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(st[0], []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class CpuSampler:
    """Samples (epoch seconds, cumulative CPU seconds of the tree)."""

    RESCAN_S = 1.0  # how often the set of processes is listed again

    def __init__(self, root: int | None = None, period: float = 0.05):
        self.root = os.getpid() if root is None else root
        self.period = period
        self.times: list[float] = []
        self.cpu: list[float] = []
        self._pids = tree_pids(self.root)
        self._scanned = time.time()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="cpu-sampler", daemon=True)

    def sample(self) -> None:
        now = time.time()
        if now - self._scanned >= self.RESCAN_S:
            self._pids, self._scanned = tree_pids(self.root), now
        total = 0.0
        for pid in self._pids:
            st = _stat(pid)
            if st is not None:
                total += st[1]
        self.times.append(now)
        self.cpu.append(total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "CpuSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def at(self, t: float) -> float:
        """Cumulative CPU seconds at epoch ``t``, interpolated."""
        i = bisect.bisect_left(self.times, t)
        if i == 0:
            return self.cpu[0]
        if i == len(self.times):
            return self.cpu[-1]
        t0, t1 = self.times[i - 1], self.times[i]
        c0, c1 = self.cpu[i - 1], self.cpu[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0)

    def between(self, t0: float, t1: float) -> float:
        return self.at(t1) - self.at(t0)
