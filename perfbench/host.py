"""CPU time and peak memory of the benchmark's process tree, read from /proc.

The Spark driver JVM is a child of this Python process, and the PySpark
worker daemon and its workers are children of the JVM, so per-iteration CPU
is summed over this process, the JVM and every live descendant of the JVM.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, breadth first."""
    out: list[int] = []
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except FileNotFoundError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except FileNotFoundError:
        return 0
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    return sum(int(x) for x in rest[11:15])


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and its descendants."""
    own = os.times()
    jvm = sum(_cpu_ticks(p) for p in [jvm_pid, *descendants(jvm_pid)])
    return own.user + own.system + jvm / _TICK


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Poll until every pid has exited; return the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive
