"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is this Python process, the Spark JVM it launched and the
Python workers the JVM forks. A process's ``cutime``/``cstime`` hold the
CPU of children it has already reaped, so summing ``utime + stime +
cutime + cstime`` over the live tree counts the CPU of exited workers as
well.
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:  # the process exited while we walked it
        pass
    return out


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state is
    index 0), or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def start_time(pid: int) -> str | None:
    """Boot-relative start time of ``pid``: with the pid, it names one
    process even after the pid is reused."""
    fields = _stat_fields(pid)
    return fields[19] if fields else None


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime: fields 14-17 of the whole line.
            total += sum(int(f) for f in fields[11:15])
    return total / _TICKS


def peak_rss_by_process(pids: list[int]) -> dict[str, float]:
    """Peak resident set (``VmHWM``, MB) of each live process, keyed by
    ``<pid>:<command name>``."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out
