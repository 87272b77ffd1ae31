"""Host facts read from the operating system: usable cores, load, and
the peak resident memory of the driver JVM and its Python workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot: the share of
    time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # comm may hold spaces and parentheses; the ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system) spent by every live descendant of
    ``root`` and by the children they have reaped. Time the hypervisor
    gave to other guests (steal) is not in it."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # exited while reading
            continue
        # utime, stime, cutime, cstime: fields 14-17, after comm's ')'
        total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return total / _TICK


def tree_jit_cpu_s(root: int) -> float:
    """CPU seconds spent by the JIT compiler threads (``C1 CompilerThre``,
    ``C2 CompilerThre``) of every JVM below ``root``. They are only all
    counted while the JVM keeps its compiler threads alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # exited while reading
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name = stat[stat.index("(") + 1:stat.rindex(")")]
            if name.startswith(("C1 Compiler", "C2 Compiler")):
                # utime, stime: fields 14-15
                total += sum(int(x) for x in
                             stat[stat.rindex(")") + 2:].split()[11:13])
    return total / _TICK


def tree_peak_rss_bytes(root: int) -> int:
    """Sum of the peak resident bytes (``VmHWM``) of every live
    descendant of ``root``: the JVM that PySpark launched, the Python
    worker daemon and its workers."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited while reading
            continue
    return total
