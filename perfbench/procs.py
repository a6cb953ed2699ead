"""Process-tree accounting from /proc: CPU seconds, peak RSS, host steal.

The benchmark's process tree is the driver Python process, the JVM that
pyspark launches under it, and the Python workers the JVM forks. Every
reading walks /proc once, so it costs a few milliseconds and is taken
only at pass boundaries, outside any timed request.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by the live tree,
    including the reaped children each member has waited for."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2 :].split()
        # utime stime cutime cstime are fields 14-17 of proc(5)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of each live process in the tree,
    keyed "<pid> <command>"."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid} {fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def host_steal_s() -> float:
    """Host-wide CPU steal so far (seconds summed over all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK  # cpu user nice system idle iowait irq softirq steal


def loadavg_1m() -> float:
    return os.getloadavg()[0]


class Stopwatch:
    """Wall time since creation, and the same less the host's CPU steal
    over the interval spread across the CPUs: how long the interval would
    have taken had the hypervisor not run other guests on this box's CPUs.
    On an unshared host the two are equal."""

    def __init__(self):
        self._t0 = time.perf_counter()
        self._steal0 = host_steal_s()

    def read(self) -> tuple[float, float, float]:
        """(steal-corrected seconds, wall seconds, steal seconds)."""
        wall = time.perf_counter() - self._t0
        steal = host_steal_s() - self._steal0
        return max(0.0, wall - steal / os.cpu_count()), wall, steal
