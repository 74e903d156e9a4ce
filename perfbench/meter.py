"""CPU time and peak memory of this process tree, read from ``/proc``.

The tree is this process and every descendant: the Spark JVM, the Python
worker daemon and its workers. A process's ``cutime``/``cstime`` hold
the CPU of children it has already reaped, so the sum over live
processes of ``utime + stime + cutime + cstime`` counts every process
that ever ran under this one exactly once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """``(ppid, cpu_ticks)`` of one process, or ``None`` if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    fields = data[data.rindex(b")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, utime + stime + cutime + cstime


def tree(root: int | None = None) -> dict:
    """``{pid: cpu_ticks}`` for ``root`` (default: this process) and all
    its descendants."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int | None = None) -> float:
    return sum(tree(root).values()) / _TICK


def descendants(root: int | None = None) -> list:
    root = os.getpid() if root is None else root
    return [p for p in tree(root) if p != root]


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _hwm_mb(pid: int):
    """Peak resident set (``VmHWM``) in MB, or ``None``."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return None


def peak_rss_mb(match: str, root: int | None = None) -> float:
    """Largest ``VmHWM`` among descendants whose command line holds
    ``match``; 0 when none is alive."""
    peaks = [
        _hwm_mb(p) for p in descendants(root) if match in _cmdline(p)
    ]
    return max((p for p in peaks if p is not None), default=0.0)


def python_worker_peak_mb() -> float:
    return peak_rss_mb("pyspark.daemon")


def jvm_peak_mb() -> float:
    return peak_rss_mb("java")


def host_cpu_ticks() -> list:
    """The machine-wide ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`host_cpu_ticks` readings: host weather, printed with each run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0
