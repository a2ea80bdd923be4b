"""Process-tree accounting: RSS, CPU time and hypervisor steal.

CPU time is what the end-to-end cost metric counts: unlike wall time it
does not grow when the hypervisor runs other guests on the virtual CPUs
(steal), which on a shared host moves wall times by tens of percent from
one minute to the next.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _processes() -> tuple[dict[int, list[int]], dict[int, tuple[int, float, str]]]:
    """(parent pid -> child pids, pid -> (RSS bytes, CPU seconds, state))
    of every live process; CPU includes children it has reaped."""
    page, tick = os.sysconf("SC_PAGE_SIZE"), os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, float, str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(int(stat[1]), []).append(int(entry))
        # fields 14-17 of stat: utime stime cutime cstime
        cpu = sum(int(x) for x in stat[11:15]) / tick
        usage[int(entry)] = (pages * page, cpu, stat[0])
    return children, usage


def _tree(children: dict[int, list[int]]) -> list[int]:
    """This process and its descendants."""
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_usage() -> tuple[int, float]:
    """(RSS bytes, CPU seconds) summed over this process and its
    descendants; CPU includes children they have reaped."""
    children, usage = _processes()
    rss, cpu = 0, 0.0
    for pid in _tree(children):
        r, c, _ = usage.get(pid, (0, 0, ""))
        rss, cpu = rss + r, cpu + c
    return rss, cpu


class PeakRss:
    """Peak summed RSS of this process and all of its descendants."""

    def __init__(self, every: float = 0.2):
        self.every = every
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        return tree_usage()[0]

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.every)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())


def end_descendants(timeout: float = 30.0) -> None:
    """Stop every process this one started (the JVM that PySpark launched
    lives until this process exits, and the Python workers under it), and
    wait until each has ended: SIGTERM, then SIGKILL after ``timeout``."""
    children, _ = _processes()
    pids = _tree(children)[1:]
    mine = set(children.get(os.getpid(), []))  # reaped here, not by init
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            for pid in list(mine):
                try:
                    if os.waitpid(pid, os.WNOHANG)[0]:
                        mine.discard(pid)
                except ChildProcessError:
                    mine.discard(pid)
            usage = _processes()[1]
            if not mine and all(usage.get(p, (0, 0, "Z"))[2] == "Z" for p in pids):
                return
            time.sleep(0.1)


def steal_seconds() -> float:
    """CPU time the hypervisor gave to others since boot, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
