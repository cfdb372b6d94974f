"""Process accounting from ``/proc``: the JVM this process launched and the
Python worker processes under it.

A background thread samples every descendant of this process: resident
memory (peak of the sum) and CPU ticks per process (the last reading of a
process that exits is kept, so short-lived workers still count).
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(comm, ppid, cpu seconds, rss bytes) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    cpu = (int(fields[11]) + int(fields[12])) / _TICK
    rss = int(fields[21]) * _PAGE
    return comm, ppid, cpu, rss


def descendants(root: int) -> dict[int, tuple]:
    """pid -> (comm, cpu seconds, rss bytes) for every descendant of root."""
    info = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        info[int(name)] = st
        children.setdefault(st[1], []).append(int(name))
    out = {}
    stack = list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        comm, _, cpu, rss = info[pid]
        out[pid] = (comm, cpu, rss)
        stack.extend(children.get(pid, ()))
    return out


class ProcSampler:
    """Samples this process's descendants until ``stop``.

    ``cpu()`` returns (jvm, python workers) CPU seconds consumed so far by
    descendants seen; ``peak_rss_bytes`` is the highest summed RSS seen
    since the last ``reset_peak``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_rss_bytes = 0
        self.pids: set[int] = set()
        self._cpu: dict[int, tuple[str, float]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        procs = descendants(os.getpid())
        rss = sum(r for _, _, r in procs.values())
        with self._lock:
            self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
            for pid, (comm, cpu, _) in procs.items():
                self._cpu[pid] = (comm, cpu)
            self.pids.update(procs)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss_bytes = 0

    def cpu(self) -> tuple[float, float]:
        self.sample()
        with self._lock:
            jvm = sum(c for comm, c in self._cpu.values() if comm == "java")
            py = sum(c for comm, c in self._cpu.values() if comm != "java")
        return jvm, py

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def wait_gone(pids, timeout_s: float = 20.0) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if _running(p)}
        if alive:
            time.sleep(0.05)
    for pid in alive:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
