"""Process-tree CPU and memory read from ``/proc`` (Linux only).

The benchmark runs the engine in one driver process. PySpark starts the
JVM as a child of the driver, the JVM starts the ``pyspark.daemon`` and
the daemon forks the Python workers. Spark's ``executorCpuTime`` covers
only JVM task threads, so Python-worker CPU is read here.

A process's ``cutime``/``cstime`` hold the CPU of its children that have
exited and been reaped, so summing ``utime + stime + cutime + cstime``
over the live tree counts every process that ever ran in it exactly once.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process (0 if gone)."""
    f = _stat(pid)
    if f is None:
        return 0
    # fields after ")": state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def children(pid: int) -> list[int]:
    """Direct children of ``pid`` over all of its threads."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children(pid))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and everything it started."""
    return sum(cpu_ticks(p) for p in tree(root)) / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the per-process resident-set high-water marks (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    f = _stat(os.getpid())
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(f[19]) / _TICK


class WorkerCpu:
    """Cumulative CPU seconds of the Python workers below one JVM.

    Cheap enough to read at every span boundary: after the first call it
    reads only the daemon's and the workers' own files, and rescans the
    JVM's threads only when the daemon is not known yet or has gone.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._daemons: list[int] = []

    def _find_daemons(self) -> None:
        self._daemons = children(self.jvm_pid)

    def read_s(self) -> float:
        if not self._daemons or not all(
            os.path.exists(f"/proc/{d}") for d in self._daemons
        ):
            self._find_daemons()
        ticks = 0
        for d in self._daemons:
            ticks += cpu_ticks(d)
            # the daemon is single-threaded: its own children file lists
            # every forked worker
            try:
                with open(f"/proc/{d}/task/{d}/children") as fh:
                    workers = [int(c) for c in fh.read().split()]
            except OSError:
                workers = children(d)
            ticks += sum(cpu_ticks(w) for w in workers)
        return ticks / _TICK


def cpu_probe_ms(n: int = 2_000_000) -> float:
    """Time of a fixed pure-Python loop: how fast one core runs right now."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return (time.perf_counter() - t0) * 1000.0


def steal_s() -> float:
    """CPU time the hypervisor has taken from the machine since boot,
    summed over all CPUs (``steal`` in ``/proc/stat``); 0 if not reported."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0
