"""Process-tree accounting from /proc: CPU seconds, resident memory, core
pinning, and ending the tree. The tree is this process plus every
descendant (the JVM and its Python workers)."""

from __future__ import annotations

import os
import signal
import threading
import time


def pin_cores(n: int) -> list[int]:
    """Pin this process to ``n`` of its allowed cores; children inherit
    the mask."""
    cores = sorted(os.sched_getaffinity(0))[:n]
    os.sched_setaffinity(0, set(cores))
    return cores


def become_subreaper() -> None:
    """Adopt every orphaned descendant (PR_SET_CHILD_SUBREAPER), so that
    processes whose parent exits first (the Python workers of a JVM that
    has ended) stay in this process's tree and are reaped by ``end``."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _stat_table() -> dict[int, tuple[int, int, int]]:
    """pid → (ppid, utime+stime+cutime+cstime jiffies, rss pages)."""
    info = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        info[int(pid)] = (
            int(rest[1]),
            int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
            int(rest[21]),
        )
    return info


def _tree(info: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c, _r) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        if p in info:
            out.append(p)
            stack.extend(kids.get(p, []))
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie. A JVM whose main
    thread has ended shows as a zombie while its other threads still run
    its shutdown; it counts as alive until the last thread is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                return True
        return len(os.listdir(f"/proc/{pid}/task")) > 1
    except OSError:
        return False


def end(grace: float = 10.0) -> None:
    """Return once this process has no descendant left, zombies included:
    wait ``grace`` seconds for them to exit on their own, then SIGTERM the
    live ones, and after another ``grace`` seconds SIGKILL them; zombie
    children are reaped on every round. The tree is read anew on every
    round, so a process forked or orphaned meanwhile is waited for too
    (orphans stay in the tree once ``become_subreaper`` has run). Gives up
    after four times ``grace``."""
    t0 = time.monotonic()
    while True:
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        tree = [p for p in _tree(_stat_table()) if p != os.getpid()]
        waited = time.monotonic() - t0
        if not tree or waited > 4 * grace:
            return
        sig = signal.SIGKILL if waited > 2 * grace else signal.SIGTERM if waited > grace else None
        for p in tree if sig is not None else ():
            if _alive(p):
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
        time.sleep(0.05)


_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s() -> float:
    """CPU seconds of the tree. cutime/cstime carry the time of reaped
    children (a Python worker that exits mid-pass), so nothing drops out."""
    info = _stat_table()
    return sum(info[p][1] for p in _tree(info)) / _HZ


def tree_rss_mb() -> float:
    info = _stat_table()
    return sum(info[p][2] for p in _tree(info)) * _PAGE / 1e6


class RssSampler:
    """Samples tree RSS every ``interval`` seconds while enabled; keeps the
    peak."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(0.2) and not self._stop.is_set():
                self.peak = max(self.peak, tree_rss_mb())
                self._stop.wait(self.interval)

    def enable(self, on: bool) -> None:
        if on:
            self.peak = max(self.peak, tree_rss_mb())
            self._on.set()
        else:
            self._on.clear()
            self.peak = max(self.peak, tree_rss_mb())

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._t.join()
