"""Host and process-tree readings from /proc (Linux only).

All values are taken without any Spark call, so reading them adds no work
to the program under test.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def seconds_since_process_start() -> float:
    """Wall seconds since this process was started by the kernel."""
    start = int(_stat_fields("self")[19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(name)
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root``'s process tree:
    live processes count their own time, reaped ones count in their
    parent's cutime/cstime, so no process is counted twice."""
    ticks = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def host_steal_s() -> float:
    """Host-wide steal seconds since boot, summed over all CPUs."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _TICK


def python_workers_hwm_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of the live PySpark worker
    processes below ``root``, in MB."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
