"""Process-tree CPU, peak memory and host diagnostics read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` and all its live descendants, including
    what each has reaped from its own ended children: the Python
    driver, the JVM it launched and the JVM's Python workers."""
    total = 0
    stack = [root or os.getpid()]
    while stack:
        pid = stack.pop()
        fields = _stat_fields(pid)
        if fields is None:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
        stack.extend(_children(pid))
    return total / _TICK


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def diagnostics() -> dict:
    """Steal jiffies, load average and CPU count: context for comparing
    two sets of runs, not metrics."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "steal_jiffies": int(cpu[8]) if len(cpu) > 8 else 0,
        "loadavg": load,
        "nproc": len(os.sched_getaffinity(0)),
    }
