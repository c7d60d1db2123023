"""Host sizing, the CPU control and process-tree memory, read from /proc.

Nothing here is tuned for one machine: cores come from the scheduler
affinity mask, the JVM heap from MemTotal, shuffle partitions from cores.
"""

from __future__ import annotations

import os
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def sizing() -> dict:
    """Spark settings derived from the host: ``local[nproc]``, a JVM
    heap of a quarter of RAM (1-8 GB), two shuffle partitions per core."""
    cores, ram = nproc(), ram_mb()
    heap_gb = max(1, min(8, ram // 4096))
    return {
        "nproc": cores,
        "ram_mb": ram,
        "master": f"local[{cores}]",
        "heap": f"{heap_gb}g",
        "young_gen": f"{heap_gb * 256}m",
        "shuffle_partitions": 2 * cores,
    }


def cpu_control(seconds: float = 0.5) -> float:
    """Single-core pure-Python counting loop, in millions of iterations per
    second: a context figure that shows how fast this host ran at the
    time, reported beside the metrics, never folded into them."""
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for _ in range(10000):
            n += 1
    return n / (time.perf_counter() - t0) / 1e6


def steal_s() -> float:
    """Seconds the hypervisor has run other guests instead of this one,
    averaged over the host's CPUs (the ``steal`` column of
    /proc/stat). A CPU-bound job that overlaps steal is delayed by about
    this much, for reasons outside the program."""
    with open("/proc/stat") as f:
        lines = f.read().splitlines()
    cpus = sum(1 for line in lines if line.startswith("cpu") and line[3].isdigit())
    return int(lines[0].split()[8]) / os.sysconf("SC_CLK_TCK") / cpus


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we listed
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants_hwm(root: int | None = None) -> list[tuple[str, float]]:
    """(command name, VmHWM in MB) of every descendant of ``root``
    (default: this process) — the Spark JVM and the Python workers
    it forks. VmHWM is the process's peak resident set size."""
    root = os.getpid() if root is None else root
    kids = _children()
    out = []
    stack = list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue  # exited while we listed
        if "VmHWM" in fields:
            out.append((fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024))
    return out
