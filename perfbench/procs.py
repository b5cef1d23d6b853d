"""Process-tree sampling from /proc: resident memory, CPU time, bytes written.

The benchmark's process tree is the Python driver, the JVM it launches and
the JVM's Python workers. A background thread sums their resident memory
every ``interval`` seconds and keeps the peaks.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_kb(pid: int) -> int:
    f = _stat_fields(pid)
    return int(f[21]) * _PAGE_KB if f is not None else 0


def cpu_ms(pid: int, with_reaped: bool = False) -> float:
    """User + system CPU of ``pid``; ``with_reaped`` adds its waited-for
    children's."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if with_reaped:
        ticks += int(f[13]) + int(f[14])
    return ticks * _TICK_MS


def write_bytes(pid: int) -> int:
    """Bytes ``pid`` caused to be written to storage (/proc/<pid>/io)."""
    try:
        with open(f"/proc/{pid}/io") as fh:
            for line in fh:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeSampler:
    """Peak summed RSS of the tree under ``root``, split into the JVM and
    the JVM's descendants (the Python workers) once the JVM is known."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.jvm: int | None = None
        self.interval = interval
        self.peak_kb = 0
        self.jvm_peak_kb = 0
        self.workers_peak_kb = 0
        self.workers_peak_n = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def sample(self) -> None:
        pids = descendants(self.root)
        self.peak_kb = max(self.peak_kb, sum(rss_kb(p) for p in pids))
        if self.jvm is not None:
            self.jvm_peak_kb = max(self.jvm_peak_kb, rss_kb(self.jvm))
            workers = [p for p in descendants(self.jvm) if p != self.jvm]
            self.workers_peak_kb = max(self.workers_peak_kb,
                                       sum(rss_kb(p) for p in workers))
            self.workers_peak_n = max(self.workers_peak_n, len(workers))

    def tree_cpu_ms(self) -> float:
        """CPU used so far by the tree, including reaped children of the
        JVM (Python workers that already exited)."""
        total = cpu_ms(self.root)
        if self.jvm is not None:
            total += cpu_ms(self.jvm, with_reaped=True)
            total += sum(cpu_ms(p) for p in descendants(self.jvm) if p != self.jvm)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()


def wait_gone(pids, timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; SIGKILL what outlives
    ``timeout`` and return those pids."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    return alive


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"
