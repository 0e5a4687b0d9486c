"""CPU seconds and resident memory of this process and all its descendants
(the Spark JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # exited between listdir and open
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rfind(")") + 2:].split()


def _tree() -> dict[str, list[str]]:
    """pid -> stat fields (from state onwards) for this process's tree."""
    stats, children = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[pid] = st
                children.setdefault(st[1], []).append(pid)
    out, todo = {}, [str(os.getpid())]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """utime + stime of the tree, plus those of its reaped children."""
    # fields after ')': state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return sum(
        int(st[11]) + int(st[12]) + int(st[13]) + int(st[14]) for st in _tree().values()
    ) / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor took from this machine's CPUs, all of
    them together: a sign that other tenants slowed a measurement."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_rss_bytes() -> int:
    return sum(int(st[21]) for st in _tree().values()) * _PAGE


class PeakRss:
    """Samples the tree's summed RSS on a background thread: the peak of
    the whole run and the peak since the last :meth:`lap`."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.peak = self.lap_peak = tree_rss_bytes()
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        rss = tree_rss_bytes()
        self.peak = max(self.peak, rss)
        self.lap_peak = max(self.lap_peak, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def lap(self) -> int:
        """Peak since the previous lap; starts the next one."""
        self._sample()
        peak, self.lap_peak = self.lap_peak, 0
        return peak

    def close(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak
