"""Readings of this process tree from /proc: age, CPU time, peak RSS and
the share of CPU time the hypervisor gave to other guests."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def tree_cpu_s(exclude=()) -> float:
    """CPU seconds used so far by this process and its descendants, live
    or reaped, leaving out the subtrees rooted at the pids in ``exclude``.

    CPU time, unlike wall time, does not grow while a virtual CPU waits
    for the host, so it stays comparable across runs on a shared host.
    """
    kids: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
        cpu[int(name)] = sum(int(x) for x in fields[11:15])  # u/s time, own + reaped
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid not in exclude:
            total += cpu.get(pid, 0)
            todo.extend(kids.get(pid, []))
    return total / _TICK


def jit_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JIT compiler threads of the JVM
    ``pid`` (the JVM must keep them for its lifetime, see ``run.py``)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            total += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
    return total / _TICK


def children(pid: int) -> dict[int, str]:
    """Live children of ``pid`` with their command lines."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            if ppid == pid:
                with open(f"/proc/{name}/cmdline") as f:
                    out[int(name)] = f.read().replace("\0", " ").strip()
        except OSError:
            continue
    return out


def peak_rss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])
