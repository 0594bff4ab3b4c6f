"""CPU time and resident memory of this process and all its descendants.

The benchmark's process tree is this Python process, the
gateway JVM it launches, and the Python worker daemons the JVM forks with
their own children.  Everything is read from ``/proc``.

CPU time of a process that exits moves into its parent's ``cutime`` and
``cstime`` once the parent reaps it, so the tree total

    sum over live processes of (utime + stime + cutime + cstime)

never loses the time of a worker that ended between two readings.

The JVM starts helper commands (``chmod``, ``jspawnhelper``) with
``posix_spawn``, whose child shares the JVM's memory until it execs.  In
that moment ``/proc`` shows the child, still named ``java``, with the
JVM's whole RSS; counting it would add the JVM a second time, so such a
child adds its CPU time but not its RSS.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, int, int, bytes] | None:
    """(ppid, cpu ticks incl. reaped children, rss bytes, command name) or
    None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    end = raw.rindex(b")")
    fields = raw[end + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    rss = int(fields[21]) * _PAGE
    return ppid, ticks, rss, raw[raw.index(b"(") + 1 : end]


def tree_totals(root: int | None = None) -> tuple[float, int]:
    """(cpu seconds, summed rss bytes) of ``root`` and every descendant."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks = rss = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ppid, t, r, comm = stats[pid]
            ticks += t
            parent = stats.get(ppid)
            if not (comm == b"java" and parent is not None and parent[3] == b"java"):
                rss += r
        todo.extend(children.get(pid, ()))
    return ticks / _TICKS, rss


class TreeSampler:
    """One background thread that tracks the peak summed RSS of the tree.

    ``window()`` starts a new measurement window: it returns the CPU seconds
    and peak RSS seen since the previous call, and the thread keeps sampling
    every ``interval`` seconds until ``close()``.
    """

    def __init__(self, interval: float = 0.1) -> None:
        self._interval = interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._cpu0, self._peak = tree_totals()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            _, rss = tree_totals()
            with self._lock:
                self._peak = max(self._peak, rss)

    def window(self) -> tuple[float, int]:
        """(cpu seconds, peak rss bytes) since the previous window."""
        cpu, rss = tree_totals()
        with self._lock:
            out = cpu - self._cpu0, max(self._peak, rss)
            self._cpu0, self._peak = cpu, rss
        return out

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
