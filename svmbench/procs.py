"""Process-tree helpers: peak RSS sampling and shutdown of children.

Spark in local mode runs as a tree under the benchmark process: the
JVM (driver and executor in one) and the Python daemon and workers it
forks. Both helpers walk that tree through ``/proc``.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    parents = _parents()
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    every ``interval`` seconds on a daemon thread; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}   # command -> bytes at peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        rss = {p: _rss_bytes(p) for p in [me, *descendants(me)]}
        total = sum(rss.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_parts = {}
            for pid, b in rss.items():
                name = _comm(pid)
                self.peak_parts[name] = self.peak_parts.get(name, 0) + b

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def cpu_jiffies() -> list[int]:
    """Host-wide CPU time counters from ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_jiffies`` readings. Latency-bound work slows by far more than
    this share, so it marks runs measured on a contended host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1)


def reap_children(timeout: float = 20.0) -> None:
    """Terminate every descendant still alive, then wait for each to
    end (killing it after ``timeout``)."""
    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    for pid in pids:
        while True:
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:   # not our direct child: poll /proc
                done = pid if not os.path.exists(f"/proc/{pid}") else 0
            if done:
                break
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                deadline = time.monotonic() + timeout
            time.sleep(0.05)
