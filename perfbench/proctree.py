"""CPU, RSS and CPU affinity of a whole process tree, read from /proc.

A PySpark driver process owns the driver JVM, which owns the Python
worker daemon, which forks the workers. ``getrusage(RUSAGE_CHILDREN)``
in the driver process sees none of them while the JVM lives (the JVM is
reaped only at exit), so CPU and RSS are summed over the live tree
instead: ``utime + stime + cutime + cstime`` of every process, where
``cutime``/``cstime`` carry the CPU of children that already exited and
were reaped.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return s[s.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_sample(root: int) -> tuple[float, int]:
    """(CPU seconds, resident bytes) summed over the tree of ``root``."""
    cpu, rss = 0, 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is None:
            continue
        # stat fields 14-17 (utime stime cutime cstime), 24 (rss pages)
        cpu += sum(int(x) for x in st[11:15])
        rss += int(st[21])
    return cpu / _TICK, rss * _PAGE


def host_steal_s() -> float:
    """Steal time of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak`` in bytes.

    The sampler thread lives in the measured process, and each sample
    scans all of /proc, so its own CPU lands in the tree's CPU: ``cpu_s``
    is the thread's CPU time so far, for callers to subtract."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root, self.interval_s, self.peak = root, interval_s, 0
        self.cpu_s = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def restart(self) -> int:
        """Start a new peak from the current sample; return the old one."""
        now = tree_sample(self.root)[1]
        with self._lock:
            old, self.peak = self.peak, now
        return old

    def _run(self) -> None:
        while not self._stop.is_set():
            now = tree_sample(self.root)[1]
            with self._lock:
                self.peak = max(self.peak, now)
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)


def pin_tree(root: int, cpu: int) -> None:
    """Pin every thread of every process in the tree to ``cpu``. Threads
    and processes created afterwards inherit the mask of their creator."""
    for pid in descendants(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), {cpu})
            except OSError:  # thread exited between listing and pinning
                pass


def cpus_allowed(pid: int) -> str:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("Cpus_allowed_list:"):
                return line.split()[1]
    return ""


def python_worker(root: int) -> int | None:
    """One Python worker (or worker daemon) process below ``root``."""
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if pid != root and b"pyspark" in cmd and b"java" not in cmd:
            return pid
    return None
