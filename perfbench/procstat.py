"""Process-tree CPU and memory counters read from /proc.

The engine runs as three kinds of process: the Python driver (this
process), the JVM it launches, and the Python workers the JVM forks
(the pyspark daemon's children and the streaming runners). CPU time
is summed as utime+stime+cutime+cstime over the whole tree, so a
worker that exited and was reaped still counts through its parent's
cutime/cstime and the total never goes backwards.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    session: int
    comm: str
    state: str
    self_s: float  # utime + stime
    reaped_s: float  # cutime + cstime: children that exited and were waited for


def _read_stat(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None  # exited between listing and reading
    # comm is parenthesised and may hold spaces; fields resume after the last ')'
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2:].split()
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return Proc(
        pid=pid,
        ppid=int(rest[1]),
        session=int(rest[3]),
        comm=raw[lpar + 1:rpar],
        state=rest[0],
        self_s=(utime + stime) / _TICK,
        reaped_s=(cutime + cstime) / _TICK,
    )


def snapshot() -> dict[int, Proc]:
    """Every readable process in this PID namespace."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_stat(int(name))
            if p is not None:
                procs[p.pid] = p
    return procs


def descendants(procs: dict[int, Proc], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def jvm_pid(procs: dict[int, Proc], driver: int) -> int | None:
    """The JVM the PySpark driver launched (a direct child named java)."""
    for pid in descendants(procs, driver):
        if procs[pid].comm == "java" and procs[pid].ppid == driver:
            return pid
    return None


def cpu_split() -> dict[str, float]:
    """CPU-seconds of this process's tree, split by process kind.

    ``driver``: this process plus reaped children other than the JVM
    (which is only reaped at exit). ``jvm``: the JVM process itself
    (executor task threads, codegen, scheduler). ``pyworker``:
    everything below the JVM, live or reaped."""
    driver = os.getpid()
    procs = snapshot()
    me = procs[driver]
    jvm = jvm_pid(procs, driver)
    split = {"driver": me.self_s + me.reaped_s, "jvm": 0.0, "pyworker": 0.0}
    if jvm is not None:
        split["jvm"] = procs[jvm].self_s
        split["pyworker"] = procs[jvm].reaped_s + sum(
            procs[p].self_s + procs[p].reaped_s for p in descendants(procs, jvm)
        )
    return split


class MonotoneCpu:
    """Tree CPU split that never decreases between reads.

    A worker reaped while the tree is being walked can be missed for
    one read (read before its parent's cutime grew, gone by the time
    it is read itself); clamping to the previous value keeps deltas
    non-negative without losing the time, which reappears in the
    parent's cutime on the next read."""

    def __init__(self) -> None:
        self.last: dict[str, float] = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}

    def read(self) -> dict[str, float]:
        self.last = {k: max(v, self.last[k]) for k, v in cpu_split().items()}
        return dict(self.last)


def host_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far, from /proc/stat.
    Steal is time the hypervisor ran something else on our CPUs; its
    share over a window says how much of a slow run the host caused."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _engine_pids() -> list[int]:
    driver = os.getpid()
    jvm = jvm_pid(snapshot(), driver)
    return [driver] if jvm is None else [driver, jvm]


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM, in MiB."""
    total_kb = 0
    for pid in _engine_pids():
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def reset_peak_rss() -> None:
    """Restart VmHWM of this process and its JVM from their current RSS."""
    for pid in _engine_pids():
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
