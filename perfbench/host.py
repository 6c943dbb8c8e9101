"""Run conditions read from /proc: cores, memory, load, the CPU share
other tenants took during the run, and the peak RSS of this process tree
(the Python driver, the Spark JVM and its Python workers)."""

from __future__ import annotations

import os
import resource
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds) for every readable process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # rest[1]=ppid, rest[11..14]=utime stime cutime cstime (the c*
        # fields hold reaped children, e.g. exited pyspark workers)
        out[int(name)] = (int(rest[1]),
                          sum(int(x) for x in rest[11:15]) / _TICK)
    return out


def _tree(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    seen, stack = [], [root]
    while stack:
        p = stack.pop()
        seen.append(p)
        stack.extend(kids.get(p, ()))
    return seen


def tree_cpu_sec() -> float:
    """CPU seconds of this process tree: live descendants from /proc plus
    reaped children from getrusage (the JVM and the pyspark daemon are
    never waited for, so getrusage alone misses most of the work)."""
    table = _proc_table()
    live = sum(table[p][1] for p in _tree(table, os.getpid())
               if p in table and p != os.getpid())
    me = resource.getrusage(resource.RUSAGE_SELF)
    ch = resource.getrusage(resource.RUSAGE_CHILDREN)
    return (me.ru_utime + me.ru_stime + ch.ru_utime + ch.ru_stime + live)


def busy_cpu_sec() -> float:
    """Machine-wide busy CPU seconds since boot (all but idle and iowait)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (sum(v[:8]) - v[3] - v[4]) / _TICK


def tree_peak_rss_mb() -> float:
    """Σ VmHWM (each process' peak resident set, kept by the kernel) over
    this process tree.  Exact per process, so no sampling misses a peak;
    an upper bound on the tree's simultaneous peak."""
    table = _proc_table()
    kb = 0
    for pid in _tree(table, os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class RunWindow:
    """On close, reports the run conditions: nproc, MemTotal, 1-minute
    load at start, the co-tenant CPU share (machine busy CPU minus this
    tree's CPU, over cores x wall), whether the run counts as clean, and
    the tree's peak RSS.  Close it while the Spark session still runs:
    stopping the session ends the Python workers."""

    # a run whose neighbours took more than this share of the cores is
    # flagged.  The load at start is only reported: it still holds the
    # previous run's own work when runs follow each other.
    CLEAN_SHARE = 0.10

    def __init__(self):
        self.nproc = os.cpu_count() or 1
        self.load0 = loadavg_1m()
        self._t0, self._busy0, self._own0 = (
            time.perf_counter(), busy_cpu_sec(), tree_cpu_sec())

    def close(self) -> dict:
        wall = time.perf_counter() - self._t0
        other = (busy_cpu_sec() - self._busy0) - (tree_cpu_sec() - self._own0)
        share = max(0.0, other) / (wall * self.nproc) if wall > 0 else 0.0
        return {
            "nproc": self.nproc,
            "mem_total_mb": round(mem_total_mb(), 1),
            "loadavg_1m": self.load0,
            "cotenant_cpu_share": share,
            "clean": share <= self.CLEAN_SHARE,
            "wall_s": wall,
            "peak_rss_mb": tree_peak_rss_mb(),
        }
