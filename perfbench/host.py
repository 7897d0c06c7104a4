"""Host facts and /proc accounting for the benchmark's process tree.

The tree is this Python process, the Spark JVM it launches and the
Python workers the JVM forks. CPU time counts live members plus the
children each member has already reaped; resident memory is sampled
by a background thread and the peaks kept.
"""

from __future__ import annotations

import os
import platform
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_PERIOD_S = 0.1


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


_ppid: dict[int, int] = {}  # pid -> parent pid, for every live pid


def tree_levels() -> list[list[int]]:
    """This process's tree, one list of pids per depth: [this process],
    its children, their children, ... A pid's parent is read once, when
    the pid first appears in /proc, so a call lists /proc and reads the
    stat file of new processes only."""
    global _ppid
    known = _ppid
    ppid = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pid = int(name)
            if pid in known:
                ppid[pid] = known[pid]
            else:
                st = _stat(pid)
                if st is not None:
                    ppid[pid] = int(st[1])
    _ppid = ppid
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    levels = [[os.getpid()]]
    while True:
        nxt = [c for pid in levels[-1] for c in children.get(pid, ())]
        if not nxt:
            return levels
        levels.append(nxt)


def tree_pids() -> list[int]:
    return [pid for level in tree_levels() for pid in level]


def tree_cpu_s() -> float:
    """utime + stime + reaped children's times, summed over the tree."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples resident memory every SAMPLE_PERIOD_S on a daemon
    thread and keeps two peaks: `peak` for this process and its
    children (the driver and the Spark JVM), `workers_peak` for the
    deeper descendants (the Python worker daemon and its workers).
    The worker pool grows and shrinks with task timing (idle workers
    are reaped after a timeout), so it is kept apart. Use as a context
    manager so the thread is joined on exit."""

    def __init__(self):
        self.peak = 0
        self.workers_peak = 0
        self.cpu_s = 0.0  # the sampler thread's own CPU time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        levels = tree_levels()
        self.peak = max(self.peak, tree_rss_bytes(levels[0] + (
            levels[1] if len(levels) > 1 else [])))
        self.workers_peak = max(self.workers_peak, tree_rss_bytes(
            [pid for level in levels[2:] for pid in level]))

    def _run(self) -> None:
        while True:
            self._sample()
            self.cpu_s = time.thread_time()
            if self._stop.wait(SAMPLE_PERIOD_S):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def describe(root: str) -> dict:
    """Static host and toolchain facts for the run header."""
    import pyarrow
    import pyspark
    commit = "unknown"
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):  # absent in a tree exported without .git
        with open(head) as f:
            ref = f.read().strip()
        commit = ref
        if ref.startswith("ref: "):
            path = os.path.join(root, ".git", ref[5:])
            if os.path.exists(path):
                with open(path) as f:
                    commit = f.read().strip()
    return {
        "mem_total_mb": mem_total_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": commit,
    }
