"""CPU time and peak memory of a process tree, read from /proc.

The client process, the JVM it launches and the Python workers the JVM
forks form one tree. CPU time counts every live process plus the
children each has already reaped (cutime/cstime), so short-lived
workers are not lost.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def group_alive(pgid: int) -> bool:
    """Whether any process of process group ``pgid`` is still running
    (zombies, which hold no resources, do not count)."""
    return any(
        (st := _stat(int(e))) is not None and int(st[2]) == pgid and st[0] != "Z"
        for e in os.listdir("/proc") if e.isdigit()
    )


def tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _stat(int(entry))) is not None:
            children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """utime + stime + cutime + cstime over the tree, in seconds."""
    ticks = 0
    for pid in tree(root):
        if (st := _stat(pid)) is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def peak_rss_mb(root: int) -> float:
    """Largest VmHWM (peak resident set) of any process in the tree."""
    peak = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024
