"""Resident memory and CPU time of this process and everything it started
(the JVM, Spark's Python workers, serving pool workers), read from /proc."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    return out


def rss_each(pids: list[int]) -> dict[int, int]:
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return out


def kind(pid: int) -> str:
    """A short label for a process of the tree, for the peak breakdown."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return "gone"
    if pid == os.getpid():
        return "benchmark"
    if "java" in cmd.split(" ", 1)[0]:
        return "jvm"
    if "pyspark" in cmd and "daemon" in cmd:
        return "spark_python_worker"
    if "forkserver" in cmd:
        return "forkserver"
    if "resource_tracker" in cmd:
        return "resource_tracker"
    return "python_child"


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests (``/proc/stat`` steal),
    all CPUs together: a run that measured while neighbours were busy
    shows it here."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / _TICK
    except (OSError, IndexError, ValueError):
        return 0.0


def cpu_ticks(pids: list[int]) -> dict[int, int]:
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            # utime, stime are fields 14 and 15 of stat; after the ")" the
            # list starts at field 3
            out[pid] = int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return out


class Sampler:
    """Background sampler of the process tree's resident memory. Tracks the
    overall peak and, per named phase, the peak and the tree CPU seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[int, tuple[str, int]] = {}
        self.phase_peak: dict[str, int] = {}
        self.phase_cpu: dict[str, float] = {}
        self._phase: str | None = None
        self._cpu0: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "Sampler":
        self.sample()
        self._thread.start()
        return self

    def sample(self) -> int:
        each = rss_each(tree())
        rss = sum(each.values())
        if rss > self.peak:
            self.peak = rss
            self.peak_parts = {pid: (kind(pid), b) for pid, b in each.items()}
        if self._phase is not None:
            self.phase_peak[self._phase] = max(self.phase_peak.get(self._phase, 0), rss)
        return rss

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def phase(self, name: str | None) -> None:
        """End the current phase (recording its CPU seconds) and start
        ``name``; ``None`` only ends it."""
        now = cpu_ticks(tree())
        if self._phase is not None:
            used = sum(t - self._cpu0.get(pid, 0) for pid, t in now.items())
            self.phase_cpu[self._phase] = (
                self.phase_cpu.get(self._phase, 0.0) + max(used, 0) / _TICK
            )
        self._phase = name
        self._cpu0 = now
        self.sample()

    def peak_breakdown(self) -> dict[str, float]:
        """MB per kind of process at the peak sample."""
        out: dict[str, float] = {}
        for k, b in self.peak_parts.values():
            out[k] = round(out.get(k, 0.0) + b / 2**20, 1)
        return out

    def stop(self) -> None:
        self.phase(None)
        self._stop.set()
        self._thread.join()
