"""CPU seconds and peak RSS of a process tree, read from ``/proc``.

The tree is the benchmark's own process plus every descendant: the JVM
that PySpark launches, the Python worker daemon it forks, and the daemon's
workers. CPU time of a process that has exited and been reaped is already
folded into its parent's ``cutime``/``cstime``, so summing
``utime + stime + cutime + cstime`` over the live tree never loses the
time of short-lived workers.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after the last ')' splits cleanly.
    return data[data.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _identity(pid: int) -> tuple[str, str] | None:
    """(executable, name) of a process."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            return os.readlink(f"/proc/{pid}/exe"), f.read()
    except OSError:
        return None


def _unexeced_thread_fork(pid: int, ppid: int) -> bool:
    """True for a child that one of its parent's threads forked and that
    has not run a program of its own yet, such as the JVM's child between
    ``vfork`` and ``exec`` when it runs ``chmod``: it has the parent's
    executable but the forking thread's name. Its resident pages are the
    parent's. A worker the Python daemon forks keeps the daemon's name."""
    child, parent = _identity(pid), _identity(ppid)
    return None not in (child, parent) and child[0] == parent[0] and child[1] != parent[1]


def tree_usage(root: int) -> tuple[float, float]:
    """(CPU seconds, resident MB) summed over ``root``'s process tree;
    the pages of an un-exec'd thread fork are counted once, with its
    parent."""
    cpu_ticks = rss_pages = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        # After the ')' split: index 1 = ppid, 11..14 = utime stime cutime
        # cstime, 21 = rss.
        cpu_ticks += sum(int(x) for x in fields[11:15])
        if pid != root and _unexeced_thread_fork(pid, int(fields[1])):
            continue
        rss_pages += int(fields[21])
    return cpu_ticks / _TICK, rss_pages * _PAGE / 1e6


class PeakRssSampler:
    """Background sampler of the tree's resident set; ``peak_mb`` is the
    largest sum seen since the last ``reset``."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root, self.interval = root, interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            _, rss = tree_usage(self.root)
            with self._lock:
                self.peak_mb = max(self.peak_mb, rss)

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = tree_usage(self.root)[1]

    def __enter__(self) -> "PeakRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
