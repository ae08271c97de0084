"""CPU and memory of this process and everything it started, read from /proc.

This Python process (the Spark driver's Python side), the JVM that
spark-submit execs, and the ``pyspark.daemon`` Python workers the JVM forks
all sit in one process tree.
CPU time counts ``utime + stime`` plus ``cutime + cstime``, so a worker that
exits and is reaped by its parent inside the tree stays counted.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after the last ')' is
    # space-separated, starting at field 3 (state)
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _stat(int(d))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids``, including reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 (utime stime cutime cstime) are st[11:15]
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def python_worker_cpu(pids: list[int]) -> dict[int, float]:
    """Own user + system CPU seconds of each ``pyspark.daemon`` process and
    of the workers it forks, by pid. Children are left out: a worker that
    exits is added to its daemon's child time with the CPU it used before
    any earlier sample too. Callers subtract per pid and skip pids that
    exited, so Python CPU is undercounted by what exited workers used
    since the last sample, never double counted."""
    out = {}
    for pid in pids:
        if "pyspark.daemon" in _cmdline(pid):
            st = _stat(pid)
            if st is not None:
                out[pid] = (int(st[11]) + int(st[12])) / _TICK
    return out


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
            pass
    return kb / 1024


def seconds_since_start() -> float:
    """Wall seconds since this process was started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) / _TICK
