"""Process-tree CPU time and peak RSS from /proc.

The benchmark's Spark session is a tree: this Python driver, the JVM it
launches, and the Python workers the JVM forks. Per-layer CPU is the
tree's CPU time consumed across a span: each live process's
utime+stime plus cutime+cstime, the time of its children that have
ended and been waited for, so a worker that exits inside a span still
counts. Peak memory is the sum of each live process's kernel-tracked
high-water mark (VmHWM).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds of it and its reaped children) for every
    readable process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue  # the process ended while we listed /proc
        # comm may hold spaces and parentheses: split after the last ')'
        rest = raw[raw.rindex(")") + 2:].split()
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        out[int(name)] = (int(rest[1]), sum(map(int, rest[11:15])) / _TICK)
    return out


def _tree(stats: dict[int, tuple[int, float]], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in tree:
            tree.add(pid)
            todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_seconds(root: int | None = None) -> float:
    """CPU seconds of `root` and its descendants, ended ones included."""
    stats = _read_stats()
    return sum(stats[p][1] for p in _tree(stats, root or os.getpid()) if p in stats)


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM over `root` and its live descendants, in MB (10^6 B)."""
    total_kb = 0
    for pid in _tree(_read_stats(), root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb * 1024 / 1e6


def read_mb(pid: int) -> float:
    """Bytes the process has read through read() syscalls (/proc/<pid>/io
    rchar), in MB: file reads, page-cache hits included, and sockets."""
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1]) / 1e6
    raise RuntimeError(f"no rchar in /proc/{pid}/io")
