"""CPU time and peak memory of the Spark JVM plus its Python workers, read
from ``/proc``.

The JVM is the process PySpark launched for the gateway; the Python workers
(the pyspark daemon and the workers it forks) are its descendants, so one
walk of the process tree below the JVM covers both.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, including children already reaped by a
    member of the tree (a Python worker that exited counts in its daemon)."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(v) for v in f[11:15])
    return total / _CLK_TCK


def peak_rss_mb(root: int) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return kb / 1024.0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat: the share
    of CPU time the hypervisor gave to other guests, a noise indicator."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])
