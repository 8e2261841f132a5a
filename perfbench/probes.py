"""Counters read from outside the engine: the Spark status store and
``/proc`` for the benchmark's own process tree.

In ``local[N]`` mode the Spark JVM is also the only executor and the
Python workers are its children, so everything the engine does shows up
in these two places. CPU time reuses ``bench.py``'s per-pid ``/proc``
sampler.
"""

from __future__ import annotations

import os
import threading
import time

from bench import process_tree_cpu_delta, process_tree_cpu_snapshot

_PAGE = os.sysconf("SC_PAGE_SIZE")

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    """``root`` and every live descendant pid."""
    kids = _children()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def jvm_pid(root: int) -> int | None:
    """The Spark JVM launched under ``root``."""
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def tree_rss_bytes(root: int) -> int:
    """Resident set size summed over the process tree. Pages a forked
    Python worker shares with its daemon count once per process; the
    proportional set size would not, but reading it walks page tables
    and slowed the measured ops by 10-25%."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class MemoryMonitor:
    """Background sampler of the process tree's resident memory; keeps
    the peak. Start it with ``start()`` and read ``peak_mb`` after
    ``stop()``."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._halt.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._halt.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


class CpuClock:
    """CPU seconds of the JVM and, separately, of its Python workers."""

    def __init__(self, root: int):
        self.root = root
        self.jvm = None

    def snapshot(self) -> dict:
        if self.jvm is None:
            self.jvm = jvm_pid(self.root)
        under_jvm = process_tree_cpu_snapshot(self.jvm) if self.jvm else {}
        return {
            "jvm": {k: v for k, v in under_jvm.items() if k[0] == self.jvm},
            "workers": {k: v for k, v in under_jvm.items() if k[0] != self.jvm},
        }

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, float]:
        return {k: process_tree_cpu_delta(before[k], after[k]) for k in after}


SPARK_COUNTERS = (
    "spark.jobs",
    "spark.tasks",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.input_bytes",
    "spark.gc_ms",
)


def spark_counters(spark) -> dict[str, int]:
    """Cumulative engine counters. Waits for the listener bus to drain
    first, so a job that has returned is fully counted."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    execs = jsc.statusStore().executorList(True)
    for i in range(execs.size()):
        e = execs.apply(i)
        out["spark.tasks"] += e.completedTasks() + e.failedTasks()
        out["spark.shuffle_read_bytes"] += e.totalShuffleRead()
        out["spark.shuffle_write_bytes"] += e.totalShuffleWrite()
        out["spark.input_bytes"] += e.totalInputBytes()
        out["spark.gc_ms"] += e.totalGCTime()
    # job ids are dense and increasing; no job group is ever set here
    ids = sc.statusTracker().getJobIdsForGroup(None)
    out["spark.jobs"] = max(ids) + 1 if ids else 0
    return out


def live_heap_mb(
    spark, settle_s: float = 2.0, max_rounds: int = 12, pause_s: float = 0.5
) -> float:
    """JVM heap in use after full collections: what the engine still
    holds (caches, pinned stages, status records), independent of how
    far the collector let the heap grow. JVM objects stay referenced
    until the Python side drops its py4j handles, and Spark's
    ContextCleaner frees broadcasts and cached blocks only after a
    collection clears their weak references, a few seconds later. So
    this collects the Python side first, collects the JVM and lets both
    settle for ``settle_s``, then collects the JVM until two readings in
    a row agree within 1%."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(settle_s)
    rt = jvm.java.lang.Runtime.getRuntime()
    last = None
    for _ in range(max_rounds):
        jvm.java.lang.System.gc()
        time.sleep(pause_s)
        mb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
        if last is not None and abs(mb - last) <= 0.01 * last:
            break
        last = mb
    return mb


def persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


class Probe:
    """Everything a span records at its two ends."""

    def __init__(self, spark_getter, root: int):
        self._spark = spark_getter
        self.cpu = CpuClock(root)

    def read(self) -> dict:
        spark = self._spark()
        return {"spark": spark_counters(spark), "cpu": self.cpu.snapshot()}

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, float]:
        out: dict[str, float] = {
            k: after["spark"][k] - before["spark"][k] for k in SPARK_COUNTERS
        }
        cpu = CpuClock.delta(before["cpu"], after["cpu"])
        out["proc.jvm_cpu_s"] = cpu["jvm"]
        out["proc.pyworker_cpu_s"] = cpu["workers"]
        return out
