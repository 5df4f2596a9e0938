"""Process-tree CPU and peak memory from /proc (psutil is not available).

A job's CPU is spread over three kinds of process: the Python driver,
the JVM it launches, and the Python workers the JVM forks. All of them
descend from the Spark driver process, so one walk of /proc from its pid
covers the whole job.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:             # the process exited between listdir and open
        return None
    # comm (field 2) may contain spaces and parentheses: split after the
    # last ')' so the numeric fields keep their documented positions
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """`root` and every live descendant."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session `sid`."""
    pids = []
    for name in os.listdir("/proc"):
        fields = _stat_fields(int(name)) if name.isdigit() else None
        # fields[0] = state, fields[3] = session id (stat fields 3 and 6)
        if fields is not None and int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def tree_cpu_s(root: int) -> float:
    """utime+stime+cutime+cstime summed over the live tree, in seconds.

    A process that exits is folded into its parent's cutime/cstime once
    reaped, so the sum does not drop when a worker goes away."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def tree_hwm_mb(root: int) -> float:
    """Sum of per-process peak resident set size (VmHWM) over the tree."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_steal_s() -> float:
    """Host-wide CPU steal so far (all CPUs), from the `cpu` line of
    /proc/stat. A large delta across a run marks it as noisy."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0
