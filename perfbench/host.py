"""Host stamp, the codegen-only canary, and process-tree CPU and memory.

The tree is this process and every descendant (the Spark JVM and its
Python workers), found by walking ``/proc`` parent links.
"""

from __future__ import annotations

import os
import platform
import sys
import time

CLK = float(os.sysconf("SC_CLK_TCK"))


def _tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """utime+stime of the tree, plus cutime+cstime so reaped workers count."""
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        f = raw[raw.rindex(")") + 2 :].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def canary_s(spark) -> float:
    """Wall of a fixed codegen-only aggregate: no shuffle, no Python worker,
    no disk. It tracks host throughput, which varies on a burstable host."""
    t0 = time.perf_counter()
    spark.range(1 << 24).selectExpr("sum(id * 3 + 1) AS s").collect()
    return time.perf_counter() - t0


def stamp(settings: dict, scale: dict) -> dict:
    import duckdb
    import pyspark

    cpu_model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                cpu_model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024**2, 1),
        "cpu_model": cpu_model,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "executable": os.path.basename(sys.executable),
        "scale": scale,
        "settings": settings,
    }
