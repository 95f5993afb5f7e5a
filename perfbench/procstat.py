"""Host readings from /proc: process-tree memory, load average, start time."""

from __future__ import annotations

import os
import subprocess
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants: here the
    driver Python, the JVM and the JVM's Python workers."""
    total, stack, seen = 0, [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
        stack.extend(_children(pid))
    return total


def tree_cpu_s(root: int, include_root: bool = False) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by the descendants of ``root`` -- here the JVM and its Python workers --
    and by ``root`` itself if ``include_root``."""
    total, stack, seen = 0, [root] if include_root else _children(root), set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])   # utime stime cutime cstime
        stack.extend(_children(pid))
    return total / _TICK


class RssSampler:
    """Samples the process tree's RSS every ``period_s`` on a daemon
    thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, period_s: float = 0.2):
        self.period_s, self.peak = period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def spawned() -> int:
    """Processes created on this machine since boot (``processes`` in
    /proc/stat)."""
    with open("/proc/stat") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("processes"))


def steal_s() -> float:
    """CPU seconds the hypervisor has run other guests while this
    machine's CPUs were ready to run (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def process_start_epoch() -> float:
    """Wall-clock start of this process (from /proc/self/stat and the
    boot time in /proc/stat)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def wait_for_exit(proc: subprocess.Popen, timeout_s: float) -> int:
    """Wait for a child process; kill it if it overruns."""
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        return proc.wait()
