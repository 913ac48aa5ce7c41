"""CPU cost of a process tree and host load, read from ``/proc``.

Process-tree CPU seconds do not move with host steal: a neighbour that
takes the physical cores stretches wall time, but the tree only
accrues user and system time while it runs. They do move with how fast
the host runs code while it runs, which ``probe.py`` reads.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _fields(text: str) -> tuple[int, list[str]]:
    """The pid and the fields after the command name of one ``stat``
    line. The command name may hold spaces and parentheses, so fields
    are split after the last ``)``; the list starts at field 3 (state)."""
    head, _, rest = text.rpartition(")")
    return int(head.split("(", 1)[0]), rest.split()


def parse_stat(text: str) -> tuple[int, int, int]:
    """``(pid, ppid, cpu ticks)`` from one ``/proc/<pid>/stat`` line.

    The ticks are utime + stime + cutime + cstime: the process's own
    time plus that of the children it has reaped, so a Python worker
    that exits mid-run keeps counting through its parent."""
    pid, f = _fields(text)
    # ppid is field 4, utime..cstime 14-17
    return pid, int(f[1]), int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def _read_all(proc: str) -> dict[int, tuple[int, int]]:
    out: dict[int, tuple[int, int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as fh:
                pid, ppid, ticks = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
        out[pid] = (ppid, ticks)
    return out


def self_pid(proc: str = "/proc") -> int:
    """This process's pid as ``proc`` numbers it: ``/proc/self``, which
    holds even where ``proc`` belongs to another pid namespace than
    ``os.getpid()``."""
    try:
        return int(os.readlink(os.path.join(proc, "self")))
    except (OSError, ValueError):
        return os.getpid()


def tree_cpu_seconds(roots=None, proc: str = "/proc") -> float:
    """User + system CPU seconds of the processes ``roots`` (one pid or
    several; this process by default) and every live descendant,
    reaped children included. A process under two roots counts once."""
    if roots is None:
        roots = [self_pid(proc)]
    elif isinstance(roots, int):
        roots = [roots]
    table = _read_all(proc)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, seen, stack = 0, set(), list(roots)
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        if pid in table:
            total += table[pid][1]
        stack.extend(children.get(pid, ()))
    return total / CLK_TCK


# HotSpot's JIT compiler threads, by the name the kernel keeps (15 bytes)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def threads_cpu_seconds(pid: int, names: tuple[str, ...], proc: str = "/proc") -> float:
    """User + system CPU seconds of the live threads of ``pid`` whose
    name starts with one of ``names``. A thread's own time only: the
    child fields of a thread's ``stat`` are the whole process's."""
    task = os.path.join(proc, str(pid), "task")
    try:
        tids = os.listdir(task)
    except OSError:
        return 0.0
    total = 0
    for tid in tids:
        try:
            with open(os.path.join(task, tid, "stat")) as fh:
                text = fh.read()
        except OSError:
            continue  # the thread ended between listdir and open
        name = text[text.index("(") + 1:text.rindex(")")]
        if name.startswith(names):
            f = _fields(text)[1]
            total += int(f[11]) + int(f[12])
    return total / CLK_TCK


def host_cpu(proc: str = "/proc") -> dict[str, int]:
    """Host-wide jiffies from the first line of ``/proc/stat``."""
    with open(os.path.join(proc, "stat")) as fh:
        f = fh.readline().split()
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return dict(zip(names, (int(x) for x in f[1:9])))


def loadavg(proc: str = "/proc") -> list[float]:
    with open(os.path.join(proc, "loadavg")) as fh:
        return [float(x) for x in fh.read().split()[:3]]


def host_window(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    """Host steal over a window: seconds summed over all CPUs and the
    share of all host CPU time."""
    delta = {k: after[k] - before[k] for k in before}
    total = sum(delta.values())
    return {
        "steal_s": delta["steal"] / CLK_TCK,
        "steal_share": delta["steal"] / total if total else 0.0,
    }
