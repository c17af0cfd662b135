"""Process-tree accounting from /proc (Linux), stdlib only.

A pipeline run is a tree of processes: the Python driver, the JVM it
launches, and the Python workers the JVM forks. CPU is summed over the
live tree, counting each process's own time plus the time of children
it has already reaped, so exited workers are not lost. Memory is the
sum of each live process's resident high-water mark (VmHWM).
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """root and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime stime cutime cstime are fields 14-17 of stat
            ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def tree_hwm_mb(root: int) -> dict[str, float]:
    """VmHWM of each live process of the tree, in MB, keyed by
    "<pid> <command name>"."""
    out = {}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("Name:"):
                        name = line.split()[1]
                    elif line.startswith("VmHWM:"):
                        out[f"{pid} {name}"] = int(line.split()[1]) / 1024
                        break
        except OSError:
            pass
    return out


def host_sample() -> dict:
    """Diagnostics only, never used to drop a run: cumulative CPU-steal
    ticks over all CPUs and the 1-minute load average."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    return {"steal_ticks": steal, "load1": load1}
