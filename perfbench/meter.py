"""CPU time of this process tree, net of the hypervisor's steal."""

from __future__ import annotations

import os
import time


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of process ``pid`` and all its descendants, reaped
    ones included (they show in their parent's child times)."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        f = stat[stat.rindex(")") + 2 :].split()
        procs[int(name)] = (int(f[1]), sum(map(int, f[11:15])))
    children: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(p)
    ticks, todo = 0, [pid]
    while todo:
        p = todo.pop()
        ticks += procs.get(p, (0, 0))[1]
        todo.extend(children.get(p, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot."""
    with open("/proc/stat") as fh:
        f = list(map(int, fh.readline().split()[1:]))
    return f[7], sum(f)


class Meter:
    """Wall seconds, and CPU seconds of this process tree net of the
    hypervisor's steal, since construction.

    Tick-based accounting charges time stolen from a running vCPU to the
    task on it: on a shared 4-vCPU host CPU time per item rose about as
    1 / (1 - steal share) as steal went from 3 to 31 %. Scaling by
    (1 - steal share) takes that back out."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.cpu0 = tree_cpu_s(os.getpid())
        self.steal0 = steal_ticks()

    def read(self) -> tuple[float, float, float]:
        """(wall s, net CPU s, steal share)"""
        wall = time.perf_counter() - self.t0
        cpu = tree_cpu_s(os.getpid()) - self.cpu0
        stolen, total = (a - b for a, b in zip(steal_ticks(), self.steal0))
        share = stolen / max(total, 1)
        return wall, cpu * (1 - share), share
