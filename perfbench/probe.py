"""Process and host readings taken from outside the engine: CPU seconds and
peak RSS from ``/proc/<pid>``, host CPU steal from ``/proc/stat``, and a
fixed pure-Python host-speed probe."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pid: int | str) -> float:
    """utime + stime of one process (or ``<pid>/task/<tid>`` thread), in
    seconds."""
    with open(f"/proc/{pid}/stat") as f:
        # the command name may contain spaces: split after its closing ')'
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def jit_cpu_seconds(pid: int) -> float:
    """CPU seconds of a JVM's JIT compiler threads, which keep compiling
    for many ops after warm-up and vary from run to run."""
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            total += cpu_seconds(f"{pid}/task/{tid}")
        except FileNotFoundError:  # the thread exited meanwhile
            continue
    return total


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_seconds() -> float:
    """Host-wide CPU steal so far, in seconds (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def host_speed_ms(rounds: int = 5) -> float:
    """Median wall time of a fixed pure-Python loop that never touches the
    engine: a slow reading marks a slow host phase, not a regression."""
    walls = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        walls.append((time.perf_counter() - t0) * 1000.0)
    walls.sort()
    return walls[len(walls) // 2]
