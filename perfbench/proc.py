"""Readers of ``/proc``: CPU time of a process tree, peak RSS of a process."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
# names of HotSpot's JIT compiler threads, as /proc cuts them to 15 bytes
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(data: bytes) -> list[bytes]:
    """Fields of a ``/proc/<pid>/stat`` line after the command name, which
    may itself hold spaces and parentheses: index 0 is field 3 (state)."""
    return data[data.rindex(b")") + 2 :].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads (0 for any other process)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().strip() not in JIT_THREADS:
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                total += sum(int(x) for x in _stat_fields(f.read())[11:13])
        except OSError:  # a thread that ended while the list was read
            continue
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and every
    process descended from it, reaped children included, less the time of
    JVM JIT compiler threads.

    This is user + system time. On a guest whose kernel accounts for steal
    time, it leaves out the time other guests took from this one's CPUs,
    which wall time does not. JIT compilation runs beside the work on
    threads of its own, when the JVM decides to compile; in the ingest
    loop its share of an operation varied threefold between operations of
    one run. Subtracting it assumes the compiler threads live as long as
    the JVM (``-XX:-UseDynamicNumberOfCompilerThreads``).
    """
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    java: list[int] = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                data = f.read()
        except OSError:  # the process ended while /proc was listed
            continue
        fields = _stat_fields(data)
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        if data[data.index(b"(") + 1 : data.rindex(b")")] == b"java":
            java.append(pid)
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t - (_jit_ticks(pid) if pid in java else 0)
    return total / _TICK


def cpu_times() -> list[int]:
    """The machine's ``/proc/stat`` CPU times: user, nice, system, idle,
    iowait, irq, softirq, steal (in ticks)."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time that other guests took in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of a process, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")
