"""CPU time and peak memory of this process and everything it started
(the JVM behind the Spark session and its Python workers), read from
``/proc`` so no extra package is needed.

CPU of a child that exited and was reaped is folded into its parent's
``cutime``/``cstime``, so short-lived Python workers are still counted
through the worker daemon that waited for them.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ")"
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def cpu_snapshot(pids: list[int]) -> dict[int, float]:
    """pid -> user + system CPU seconds, including reaped children."""
    out = {}
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            out[pid] = sum(int(x) for x in fields[11:15]) / _CLK_TCK
    return out


def cpu_between(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU used between two snapshots by the processes alive at the
    second; a process that exited in between is counted through the
    parent that reaped it."""
    return sum(cpu - before.get(pid, 0.0) for pid, cpu in after.items())


def host_clock() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all the machine's CPUs so far, from
    ``/proc/stat``: ticks spent running work, and ticks a runnable CPU
    waited while the hypervisor ran someone else (steal)."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields + [0] * (8 - len(fields))
    return user + nice + system + irq + softirq, steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time the machine wanted between two
    ``host_clock`` readings that the hypervisor took away."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM), in MiB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
