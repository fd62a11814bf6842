"""CPU time of a process tree, read from /proc (Linux).

The benchmark samples the Spark JVM and every process below it (the
PySpark daemon and its Python workers); the Python driver that runs the
benchmark is the JVM's parent and is not counted.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited while we listed /proc
        return None
    # comm may hold spaces and parentheses: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list:
    children: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK

