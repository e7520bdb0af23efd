"""CPU and memory of a process tree, read from ``/proc``.

A process's own CPU (utime+stime) plus the CPU of its reaped children
(cutime+cstime) never double counts: a child's time moves from its own
entry to its parent's ``c*`` fields only when it is reaped, so summing
over the live tree is monotonic across worker exits.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, int, str, int]]:
    """pid -> (ppid, session id, state, cpu ticks incl. reaped children)
    for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[0] is field 3 (state): ppid=4, session=6, utime..cstime=14..17
        out[int(name)] = (int(fields[1]), int(fields[3]), fields[0],
                          sum(int(v) for v in fields[11:15]))
    return out


def tree(root: int, procs: dict | None = None) -> list[int]:
    procs = _procs() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(pid)
            stack.extend(kids.get(pid, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_s(root: int) -> tuple[float, float]:
    """(whole tree, Python-worker part) CPU seconds.  The workers are the
    ``pyspark.daemon`` process and the workers it forks, which keep its
    command line."""
    procs = _procs()
    total = workers = 0
    for pid in tree(root, procs):
        ticks = procs[pid][3]
        total += ticks
        if "pyspark.daemon" in _cmdline(pid):
            workers += ticks
    return total / _TICK, workers / _TICK


def peak_rss_mb(root: int) -> float:
    """Sum of VmHWM (peak resident set) over the live tree."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (the benchmark starts each run as
    a session leader, so this is the whole run, reparented or not)."""
    return [pid for pid, (_, s, state, _) in _procs().items()
            if s == sid and state != "Z"]
