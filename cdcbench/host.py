"""Host diagnostics recorded with every run, so that a shift of the host's
window can be told apart from a change of the program.  None is gated."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time stolen from this VM since boot, summed over vCPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(name))
            except (OSError, ValueError, IndexError):
                continue
    return out


class CpuMeter:
    """CPU seconds of this Python process plus the Spark JVM and its
    Python workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def read(self) -> float:
        t = os.times()
        total = t.user + t.system + _proc_cpu_s(self.jvm_pid)
        for pid in children(self.jvm_pid):
            try:
                total += _proc_cpu_s(pid)
            except OSError:
                continue
        return total


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` is alive."""
    deadline = time.time() + timeout_s
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, parts[2]
    return kind


def calibrate(spark) -> float:
    """Milliseconds for a fixed Spark kernel that touches no engine code:
    a hash-sum over 4M longs."""
    t = time.perf_counter()
    spark.range(0, 4_000_000, numPartitions=nproc()).selectExpr(
        "sum(xxhash64(id) & 1023)"
    ).collect()
    return (time.perf_counter() - t) * 1e3
