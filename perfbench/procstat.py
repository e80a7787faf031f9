"""Process-tree and host counters read from /proc.

The benchmark's driver process is the root of a tree: the Python driver,
the JVM it launches through spark-submit, the PySpark daemon the JVM forks
and the Python workers the daemon forks. CPU and memory are summed over
that tree, so the cost of every layer is counted once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between the listing and the read
        return None
    # fields from 3 (state) on; comm (field 2) may hold spaces, so split
    # after its closing ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime + stime of the tree, including reaped children of live members
    (a Python worker that exits is reaped by the daemon, so its CPU moves
    into the daemon's cutime/cstime and is not lost)."""
    ticks = 0
    for pid in tree(root):
        fields = stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of VmHWM (peak resident set) over the live tree, in MB."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
