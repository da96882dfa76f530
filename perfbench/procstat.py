"""CPU seconds and peak RSS of this process's whole /proc tree: the
Python client, the local-mode JVM and its Python worker daemons and
workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime + stime + cutime + cstime in ticks). Reaped
    children's time sits in their parent's cutime/cstime, so workers that
    exited between two samples are still counted."""
    out: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                f = fh.read().rsplit(b")", 1)[-1].split()
            out[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
        except (OSError, IndexError, ValueError):
            continue  # the process exited while we looked
    return out


def tree_pids(procs: dict[int, tuple[int, int]] | None = None) -> list[int]:
    procs = _procs() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    seen, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        if p in procs and p not in seen:
            seen.append(p)
            stack.extend(children.get(p, []))
    return seen


def cpu_seconds() -> float:
    procs = _procs()
    return sum(procs[p][1] for p in tree_pids(procs)) / _TICK


def peak_rss_mb() -> float:
    """Largest VmHWM (peak resident set) of any process in the tree."""
    peak = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/status", encoding="ascii", errors="replace") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak / 1024.0
