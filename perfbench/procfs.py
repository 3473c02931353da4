"""What /proc says about this process, the JVM and the Python workers
it started, and about the host."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    """The fields of /proc/<pid>/stat after the command name: state,
    ppid, ..."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat(int(d))[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        return _stat(pid)[0] != "Z"
    except OSError:
        return False


def tree_cpu_s() -> float:
    """CPU seconds, user and system, that this process and everything
    it started have used so far, the children that have ended and been
    waited for included. Time the hypervisor gave to other guests
    (steal) is not in it."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            f = _stat(pid)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def host_steal() -> tuple[int, int]:
    """(steal, all) CPU ticks of the host so far: the share of time the
    hypervisor gave the cores to someone else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)
