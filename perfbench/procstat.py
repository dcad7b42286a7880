"""CPU and resident memory of this process and every process it started.

Reads ``/proc`` directly (``psutil`` is not assumed).  The process tree of a
benchmark run is the Python process, the JVM it launches, and the PySpark
daemon and workers the JVM forks.  A background thread samples the tree so
that the peak of the summed resident set size is seen; CPU time is read on
demand and keeps the last value seen for processes that have since exited.
"""

from __future__ import annotations

import os
import threading
import time

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds, rss bytes) of one process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces and parentheses: split after the
    # last ')' (proc(5): fields 3.. follow it)
    fields = raw[raw.rindex(b")") + 2 :].split()
    ppid = int(fields[1])
    cpu = (int(fields[11]) + int(fields[12])) / _TICKS
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from ``/proc/stat``:
    steal is the time the hypervisor ran something else on our CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat", "rb") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(b")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICKS


class TreeSampler:
    """Samples the process tree rooted at ``root`` every ``period`` seconds."""

    def __init__(self, root: int | None = None, period: float = 0.2):
        self.root = root or os.getpid()
        self.period = period
        self.peak_rss = 0
        self._cpu_seen: dict[int, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def tree(self) -> dict[int, tuple[int, float, int]]:
        """Current stats of the root and all its descendants."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _cpu, _rss) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(children.get(pid, ()))
        return out

    def reset_peak(self) -> None:
        """Start a new peak window at the current summed RSS."""
        with self._lock:
            self.peak_rss = 0
        self.sample()

    def sample(self) -> dict[int, tuple[int, float, int]]:
        tree = self.tree()
        with self._lock:
            self.peak_rss = max(self.peak_rss, sum(rss for _p, _c, rss in tree.values()))
            for pid, (_p, cpu, _r) in tree.items():
                self._cpu_seen[pid] = max(cpu, self._cpu_seen.get(pid, 0.0))
        return tree

    def cpu_s(self) -> float:
        """CPU seconds used so far by every process of the tree, live or exited."""
        self.sample()
        with self._lock:
            return sum(self._cpu_seen.values())

    def descendants(self) -> list[int]:
        return [pid for pid in self.tree() if pid != self.root]


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive (or is a zombie); return the rest."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(b")") + 2 :].split()[0] != b"Z"
