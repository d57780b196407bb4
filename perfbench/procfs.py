"""Process-tree and host CPU readings from ``/proc`` (psutil is not
available): resident memory and CPU time of a process and its
descendants, and the host's CPU counters, including the time the
hypervisor stole for other guests."""

from __future__ import annotations

import os

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def proc_table() -> dict:
    """``{pid: stat fields after the command name}`` for every live
    process (field 0 is the state, 1 the parent pid, 2 the process group)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                table[int(name)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return table


def tree(root: int, table: dict | None = None) -> list:
    """``root`` and its live descendants."""
    table = proc_table() if table is None else table
    children: dict = {}
    for pid, fields in table.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_rss(root: int) -> dict:
    """``{(pid, start time): resident bytes}`` over ``root`` and its live
    descendants; the start time tells a pid from a reused one."""
    table = proc_table()
    out = {}
    for pid in tree(root, table):
        try:
            with open(f"/proc/{pid}/statm", encoding="utf-8") as f:
                out[(pid, table[pid][19])] = int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return out


def alive(procs) -> list:
    """The ``(pid, start time)`` pairs that still run."""
    table = proc_table()
    return [(p, t) for p, t in procs if p in table and table[p][19] == t and table[p][0] != "Z"]


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants
    (a Spark session's JVM and Python workers live as long as it does)."""
    table = proc_table()
    return sum(int(table[p][11]) + int(table[p][12]) for p in tree(root, table)) / TICK


def cpu_jiffies() -> list:
    """The host's aggregate ``/proc/stat`` cpu counters."""
    with open("/proc/stat", encoding="utf-8") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list, after: list) -> float:
    """Share of the busy CPU time (idle and iowait excluded) that the
    hypervisor gave to other guests between two readings."""
    d = [a - b for a, b in zip(after, before)]
    busy = sum(d) - d[3] - d[4]
    return d[7] / busy if busy > 0 else 0.0


def unstolen(wall_s: float, steal: float) -> float:
    """Wall time with the host's CPU steal taken out: on a shared VM the
    hypervisor runs other guests for a ``steal`` share of the time the
    job's CPUs wanted to run, which stretches the wall clock by that much.
    Equal to the wall time on an unshared host."""
    return wall_s * (1.0 - steal)
