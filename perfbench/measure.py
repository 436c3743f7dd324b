"""Process-tree and JVM counters, read from outside the program.

CPU and memory come from ``/proc`` (psutil is not installed): the tree
is this Python driver, the JVM it launched, the PySpark daemon and its
Python workers. A process's ``cutime``/``cstime`` hold the CPU of
children it has already reaped, so summing ``utime+stime+cutime+cstime``
over the live tree keeps the CPU of workers that exited.

JVM counters (GC and JIT time, heap pools) come from the platform MX
beans through the session's py4j gateway.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at index 2 (state)
    return raw[raw.rindex(")") + 2:].split()


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    st = _stat(os.getpid())
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(st[19]) / CLK_TCK


def _tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, stat fields) for ``root`` and every live descendant."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            stats[int(name)] = st
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
            todo.extend(children.get(pid, []))
    return out


def _cpu(st: list[str]) -> float:
    return sum(int(x) for x in st[11:15]) / CLK_TCK


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            return next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
    except OSError:
        return 0


class ProcTree:
    """CPU seconds and peak resident memory of this process and its
    descendants."""

    def __init__(self):
        self.root = os.getpid()

    def cpu_s(self) -> float:
        return sum(_cpu(st) for _, st in _tree(self.root))

    def python_worker_cpu_s(self) -> float:
        return sum(_cpu(st) for pid, st in _tree(self.root) if _is_python_worker(pid))

    def peak_rss_mb(self) -> float:
        """Sum of each live process's own peak RSS (the kernel's VmHWM):
        exact per process, no sampling; an upper bound of the tree's
        simultaneous peak. PySpark reuses its Python workers, so they are
        still alive at the end of the timed phase."""
        return sum(_hwm_kb(pid) for pid, _ in _tree(self.root)) / 1024


class JvmStats:
    """GC and JIT milliseconds and the heap pools' peak, from MX beans."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gc = list(mf.getGarbageCollectorMXBeans())
        self._jit = mf.getCompilationMXBean()
        self._heap = [p for p in mf.getMemoryPoolMXBeans()
                      if str(p.getType().toString()) == "Heap memory"]

    def gc_s(self) -> float:
        return sum(max(b.getCollectionTime(), 0) for b in self._gc) / 1000

    def jit_s(self) -> float:
        return self._jit.getTotalCompilationTime() / 1000

    def reset_heap_peak(self) -> None:
        for p in self._heap:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap) / 2**20
