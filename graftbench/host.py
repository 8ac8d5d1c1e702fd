"""Host-side measurements that need no Spark: the process tree's CPU time
and resident memory, the process start time, and the host-interference
counters (CPU steal, CPU pressure) recorded beside every run.

Everything here reads ``/proc``. The tree is this process plus every
descendant: the JVM that PySpark launches, the Python worker daemon and
its forked workers.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def process_start_s() -> float:
    """Seconds since boot at which this process started."""
    return int(_stat_fields(os.getpid())[19]) / _TICK


def since_boot_s() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a worker that exits moves its time into its parent's cutime/cstime,
    so the sum never drops)."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_bytes() -> int:
    """Sum over the tree of each process's peak resident set (VmHWM), as
    the kernel tracks it: no sampling, so no short peak is missed."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def interference() -> dict:
    """Cumulative host counters: CPU steal ticks (all CPUs) and the
    CPU-pressure "some" total in microseconds (absent on kernels
    without PSI)."""
    out = {"steal_ticks": None, "cpu_pressure_some_us": None}
    with open("/proc/stat") as f:
        fields = f.readline().split()
    if fields[0] == "cpu" and len(fields) > 8:
        out["steal_ticks"] = int(fields[8])
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    out["cpu_pressure_some_us"] = int(line.rsplit("total=", 1)[1])
    except OSError:
        pass
    return out


def interference_delta(before: dict, after: dict) -> dict:
    return {
        k: (after[k] - before[k]) if before[k] is not None and after[k] is not None else None
        for k in before
    }
