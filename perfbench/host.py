"""Host facts and process-tree accounting read from ``/proc``.

The process tree is this Python driver, the JVM it launched, and the
Python workers the JVM forks. CPU seconds are summed over every live
process plus the reaped children each one accounts for (``cutime``), so
a worker that exits between two readings still counts once.
"""

from __future__ import annotations

import os
import platform

_TICKS = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        seen.append(pid)
        stack.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the whole tree, reaped children included."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in f[11:15])
    return total / _TICKS


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    f = _stat_fields(os.getpid())
    with open("/proc/uptime") as u:
        uptime = float(u.read().split()[0])
    return uptime - int(f[19]) / _TICKS


def load1() -> float:
    return os.getloadavg()[0]


def physical_memory_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_heap_mb(cores: int) -> int:
    """Heap for the local-mode driver JVM: a quarter of physical memory,
    capped at 1 GB per core and at 6 GB, so the JVM, the Python workers
    and the page cache all fit without swapping."""
    return max(1024, min(physical_memory_mb() // 4, 1024 * cores, 6 * 1024))


def versions() -> dict:
    import pyspark

    return {"python": platform.python_version(), "spark": pyspark.__version__}
