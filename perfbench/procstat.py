"""Process-tree CPU and memory, and host noise, read from /proc.

The engine's processes are this Python driver and every process below
it: the Spark JVM it launched, the PySpark worker daemon and the Python
workers the daemon forks. Spark's own task metrics miss GC, JIT and
Python-worker time; summing /proc over the tree counts them.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open(f"/proc/{os.getpid()}/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / CLK_TCK


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        f = _stat_fields(int(ent))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(ent))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the tree, including reaped children
    (a worker that exits hands its CPU to its parent's cutime)."""
    total = 0
    for p in tree_pids():
        f = _stat_fields(p)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the tree's total resident memory in a thread and keeps
    the peak; the process list is refreshed every ``refresh_s``."""

    def __init__(self, interval_s: float = 0.1, refresh_s: float = 1.0):
        self.interval_s, self.refresh_s = interval_s, refresh_s
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, listed = tree_pids(), time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - listed > self.refresh_s:
                pids, listed = tree_pids(), time.monotonic()
            self.peak = max(self.peak, tree_rss_bytes(pids))
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def steal_ticks() -> int:
    """Cumulative hypervisor steal ticks over all CPUs (/proc/stat)."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) if len(parts) > 8 else 0


def foreign_spark_jvms() -> list[int]:
    """Pids of Spark JVMs that are not ours (not in this process tree)."""
    mine = set(tree_pids())
    found = []
    for ent in os.listdir("/proc"):
        if not ent.isdigit() or int(ent) in mine:
            continue
        try:
            with open(f"/proc/{ent}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").lower()
        except OSError:
            continue
        if b"java" in cmd and (b"org.apache.spark" in cmd
                               or b"pyspark" in cmd):
            found.append(int(ent))
    return found


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]
