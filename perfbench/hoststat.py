"""Process-tree and host readings from /proc (Linux only).

The benchmark process owns the whole Spark deployment: Spark's JVM
is its child and the Python workers are forked from a daemon the JVM
starts, so the process tree under ``os.getpid()`` is everything that
does the work.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def process_tree(root: int | None = None) -> dict[int, str]:
    """pid -> role ("driver", "jvm", "python_worker", "other") for
    ``root`` and every live descendant."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    roles = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        cmd = _cmdline(pid)
        if pid == root:
            roles[pid] = "driver"
        elif "java" in cmd.split(" ")[0]:
            roles[pid] = "jvm"
        elif "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            roles[pid] = "python_worker"
        else:
            roles[pid] = "other"
        todo.extend(children.get(pid, []))
    return roles


def cpu_by_role(tree: dict[int, str]) -> dict[str, float]:
    """CPU seconds per role: utime+stime of each live process plus the
    cutime+cstime of children it has already reaped."""
    out: dict[str, float] = {}
    for pid, role in tree.items():
        f = _stat_fields(pid)
        if f is None:
            continue
        ticks = sum(int(x) for x in f[11:15])
        out[role] = out.get(role, 0.0) + ticks / _TICK
    return out


def peak_rss_mb(tree: dict[int, str], role: str) -> float:
    """Largest VmHWM (peak resident set) among processes of ``role``."""
    peak = 0
    for pid, r in tree.items():
        if r != role:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total else 0.0


def calibration_ms(n: int = 300_000) -> float:
    """Time of a fixed pure-Python loop; moves with the host, not the code."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) % 1_000_003
    return (time.perf_counter() - t0) * 1000.0
