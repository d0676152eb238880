"""Host-side figures: process-tree peak RSS, CPU utilisation and steal
from /proc/stat, and a fixed pure-numpy probe that tells host drift
apart from a program change."""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages split among their sharers,
    so forked Python workers do not count the daemon's pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited since the tree was listed
    return 0


def _proc_table() -> tuple[dict[int, list[int]], dict[int, str]]:
    """(children by parent pid, /proc/<pid>/stat text by pid) of every
    process visible now."""
    children: dict[int, list[int]] = {}
    stats: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        pid = int(entry)
        stats[pid] = stat
        children.setdefault(int(_stat_fields(stat)[1]), []).append(pid)
    return children, stats


def _stat_fields(stat: str) -> list[str]:
    """The fields of a /proc/<pid>/stat line after the parenthesised
    command name (field 3 of proc(5) is index 0)."""
    return stat[stat.rfind(")") + 2:].split()


def _tree(root_pid: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _exe(pid: int) -> str:
    """Base name of the program `pid` runs; empty for a zombie or a
    process that has exited."""
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def _tree_mem_bytes(tree: list[int], stats: dict[int, str]
                    ) -> tuple[int, int, dict[int, int]]:
    """(RSS of all, RSS of the JVM, PSS of each Python process) of the
    processes `tree`: the main Python process, its JVM and the JVM's
    Python workers.  A process is told by its executable, not its name:
    a child the JVM spawns (Hadoop's `chmod` calls, the worker daemon)
    runs the `java` executable in the JVM's memory until it execs, under
    the name of the JVM thread that spawned it, so it is left out."""
    exe = {pid: _exe(pid) for pid in tree}
    total = java = 0
    py = {}
    for pid in tree:
        stat = stats.get(pid)
        if stat is None:
            continue
        fields = _stat_fields(stat)
        rss = int(fields[21]) * _PAGE
        if exe[pid] == "java":
            if exe.get(int(fields[1])) == "java":
                continue  # spawned by the JVM, not yet exec'd
            java += rss
        elif exe[pid].startswith("python"):
            py[pid] = _pss_bytes(pid)
        total += rss
    return total, java, py


def _starts(pids: list[int], stats: dict[int, str]) -> dict[int, str]:
    """pid -> start time (field 22 of proc(5)) of the live ones of
    `pids`; the start time tells a process apart from a later one that
    reuses its pid."""
    out = {}
    for pid in pids:
        f = _stat_fields(stats[pid])
        if f[0] != "Z":
            out[pid] = f[19]
    return out


def descendants(root_pid: int) -> dict[int, str]:
    """Every live descendant of `root_pid`, as pid -> start time."""
    children, stats = _proc_table()
    return _starts(_tree(root_pid, children)[1:], stats)


def alive(pid: int, start: str) -> bool:
    """Whether the process `pid` that started at `start` still runs (a
    zombie does not count)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = _stat_fields(f.read())
    except OSError:
        return False
    return fields[19] == start and fields[0] != "Z"


class MemSampler:
    """Samples the process tree's memory on a daemon thread and keeps
    the largest sample of the whole tree's RSS, of the JVM's RSS and of
    the Python processes' (main process and workers) PSS.  It also keeps
    every descendant it saw (`seen`, pid -> start time), so the run can
    wait for each to end, and the Python processes of the sample that
    set the PSS peak (`py_at_peak`).  Use as a context manager."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = self.peak_jvm = self.peak_py = 0
        self.seen: dict[int, str] = {}
        self.py_at_peak: dict = {}
        self._t0 = time.perf_counter()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        children, stats = _proc_table()
        tree = _tree(os.getpid(), children)
        total, java, py = _tree_mem_bytes(tree, stats)
        self.seen.update(_starts(tree[1:], stats))
        self.peak = max(self.peak, total)
        self.peak_jvm = max(self.peak_jvm, java)
        if sum(py.values()) > self.peak_py:
            self.peak_py = sum(py.values())
            self.py_at_peak = {
                "t_s": time.perf_counter() - self._t0,
                "pid_ppid_mb": [
                    [pid, int(_stat_fields(stats[pid])[1]), b / 2**20]
                    for pid, b in py.items()]}

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> MemSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def cpu_times() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = fields[:8]
    total = user + nice + system + idle + iowait + irq + softirq + steal
    return total - idle - iowait, steal, total


def cpu_shares(before: tuple[int, int, int],
               after: tuple[int, int, int]) -> tuple[float, float]:
    """(busy share, steal share) of all CPU time between two samples."""
    d = [a - b for a, b in zip(after, before)]
    if d[2] <= 0:
        return 0.0, 0.0
    return d[0] / d[2], d[1] / d[2]


def probe_s(seed: int = 0, n: int = 4_000_000, reps: int = 5) -> float:
    """Median wall time of a fixed single-threaded numpy job (sort of
    `n` seeded doubles)."""
    x = np.random.default_rng(seed).random(n)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        np.sort(x, kind="quicksort")
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]
