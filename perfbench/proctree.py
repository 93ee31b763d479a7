"""CPU time and resident memory of this process's descendants, from /proc.

The tree is everything the benchmark process started: the Spark driver
JVM and the Python workers under it.  CPU time counts every thread of a
live process plus the reaped children folded into its parent
(cutime/cstime), so Python workers that exit between two readings are
not lost.

The JVM's JIT compiler threads are left out of the CPU time.  Spark
generates and compiles new code for every query, so those threads run
in bursts that follow the JIT's own queue rather than the op being
measured; on a 4-core host they took 10-25% of an op's CPU time and were
the largest source of its spread from op to op.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")

# (tid, start time) -> CPU ticks last seen of every JIT thread ever seen;
# a thread that exits keeps its last reading, so the total never drops
_jit_seen: dict[tuple[int, int], int] = {}


def _fields(path: str) -> tuple[str, list[str]]:
    """(command name, fields from field 3 on) of a /proc stat file."""
    with open(path) as f:
        stat = f.read()
    return (stat[stat.index("(") + 1:stat.rindex(")")],
            stat[stat.rindex(")") + 2:].split())


def _stats() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, cpu ticks incl. reaped children)} of every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, rest = _fields(f"/proc/{name}/stat")
        except OSError:
            continue
        out[int(name)] = (int(rest[1]), sum(int(v) for v in rest[11:15]))
    return out


def descendants() -> dict[int, int]:
    """{pid: cpu ticks} of every process below this one."""
    stats = _stats()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid][1]
        todo.extend(kids.get(pid, []))
    return out


def _jit_ticks(pids) -> int:
    """CPU ticks of the JIT compiler threads of ``pids``, all time."""
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                comm, rest = _fields(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if comm.startswith(JIT_THREADS):
                _jit_seen[int(tid), int(rest[19])] = (int(rest[11])
                                                     + int(rest[12]))
    return sum(_jit_seen.values())


def cpu_seconds() -> float:
    """CPU seconds used so far by the descendants of this process, less
    the JVM's JIT compiler threads."""
    procs = descendants()
    return (sum(procs.values()) - _jit_ticks(procs)) / _TICK


def peak_rss_mb() -> float:
    """Sum over the descendants of each process's peak resident set."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
