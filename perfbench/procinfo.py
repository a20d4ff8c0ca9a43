"""Process-tree memory and host CPU counters read from /proc (Linux)."""

from __future__ import annotations

import os
from typing import Dict, List


def children_of(pid: int) -> List[int]:
    """Every live descendant of ``pid``, found by scanning /proc/*/stat."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name sits in parentheses and may contain spaces
        fields = stat[stat.rfind(")") + 2:].split()
        parent[int(name)] = int(fields[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2:].split()[0] != "Z"


def peak_rss_mb(pids: List[int]) -> Dict[int, float]:
    """Peak resident set (VmHWM) of each live process, in MB."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


def cpu_ticks() -> List[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: List[int], after: List[int]) -> float:
    """Share of all CPU ticks between two readings that the hypervisor stole."""
    delta = [b - a for a, b in zip(before, after)]
    # guest time is already counted inside user/nice
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0
