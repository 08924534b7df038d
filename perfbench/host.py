"""Host facts the benchmark records beside its metrics."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _probe_task() -> float:
    """A framework-free regex + numeric kernel (the kernel of bench.py's
    ``_mem_probe``, at a smaller size)."""
    import numpy as np
    import pandas as pd

    t0 = time.perf_counter()
    s = pd.Series(["tnhh son ha viet nam so %d x" % i for i in range(20000)])
    for _ in range(4):
        s.str.replace(r"\b(son|nam)\b", "xx", regex=True)
        a = np.arange(1_000_000, dtype=np.float64)
        ((a * 1.7 + 3) % 97.0).sum()
    return time.perf_counter() - t0


def host_probe() -> float:
    """Median seconds of one probe task with every core busy, one process
    per core. An unchanged tree has run 1.4x apart across sessions on this
    kind of host; this number shows such drift without any Spark in the
    way."""
    procs = [
        subprocess.Popen([sys.executable, __file__, "--probe"],
                         stdout=subprocess.PIPE, text=True)
        for _ in range(nproc())
    ]
    times = []
    for p in procs:
        out, _ = p.communicate(timeout=120)
        if p.returncode != 0:
            raise RuntimeError(f"host probe exited with {p.returncode}")
        times.append(float(out))
    return statistics.median(times)


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
        # the command name may hold spaces; fields after it are fixed
        return fh.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    process below it, the ones already reaped included: the driver JVM
    and the Python workers it forks."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat(int(entry))[1])
            except (OSError, IndexError):
                continue  # the process ended while we looked
            children.setdefault(ppid, []).append(int(entry))
    ticks = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        try:
            f = _stat(pid)
        except OSError:
            continue
        # utime stime cutime cstime
        ticks += sum(int(x) for x in f[11:15])
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


class JvmClocks:
    """The driver JVM's cumulative JIT-compile and GC times, in seconds."""

    def __init__(self, spark):
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._jit = mx.getCompilationMXBean()
        self._gcs = list(mx.getGarbageCollectorMXBeans())

    def read(self) -> tuple[float, float]:
        gc_ms = sum(max(b.getCollectionTime(), 0) for b in self._gcs)
        return self._jit.getTotalCompilationTime() / 1000, gc_ms / 1000


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


if __name__ == "__main__" and sys.argv[1:] == ["--probe"]:
    print(_probe_task())
