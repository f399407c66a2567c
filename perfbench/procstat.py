"""CPU and memory of a process tree, read from /proc.

The benchmark's driver Python process starts the JVM, and the JVM starts
the Python worker daemon, which forks one worker per task slot. Spark's
own ``executorCpuTime`` sees none of the Python side, so the compute
bill is read from the kernel instead: every live process in the tree
contributes its own CPU plus that of the children it has already
reaped, so a worker that exited between two readings is still counted
once.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone. Field 3 of the man page (state) is index 0."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def children_map() -> dict[int, list[int]]:
    """Parent pid → child pids, for every process visible in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_s(pid: int) -> float:
    """utime + stime + cutime + cstime of one process, in seconds."""
    fields = _stat(pid)
    if fields is None:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / CLK_TCK


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the tree rooted at ``root`` (default:
    this process), including reaped children."""
    return sum(cpu_s(p) for p in tree_pids(root or os.getpid()))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def start_epoch(pid: int | None = None) -> float:
    """Wall-clock time (epoch seconds) at which ``pid`` started."""
    fields = _stat(pid or os.getpid())
    if fields is None:
        raise ProcessLookupError(pid)
    # /proc/stat's btime is rounded to whole seconds; the age from
    # /proc/uptime keeps the tick resolution
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - int(fields[19]) / CLK_TCK)
