"""What the benchmark reads about its host and its own processes from /proc."""

from __future__ import annotations

import os
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_info() -> dict:
    mem_kb = next(
        int(line.split()[1]) for line in Path("/proc/meminfo").read_text().splitlines()
        if line.startswith("MemTotal:")
    )
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
        "loadavg_1m": os.getloadavg()[0],
    }


def _descendants() -> set[int]:
    """Pids of this process's descendants: the driver JVM and its Python workers."""
    parent: dict[int, int] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(stat.parent.name)] = int(fields[1])
    tree = {os.getpid()}
    grew = True
    while grew:
        new = {p for p, pp in parent.items() if pp in tree and p not in tree}
        tree |= new
        grew = bool(new)
    return tree - {os.getpid()}


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of the driver JVM and its workers."""
    total_kb = 0
    for pid in _descendants():
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its descendants."""
    total = sum(os.times()[:2])
    for pid in _descendants():
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += (int(fields[11]) + int(fields[12])) / CLK_TCK
    return total


def steal_s() -> float:
    """Time the hypervisor has run something else on this VM's CPUs so far,
    per CPU (the ``steal`` column of /proc/stat)."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / CLK_TCK / os.cpu_count()
