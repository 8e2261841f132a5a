"""Measurement helpers shared by the benchmark (``perfbench/``).

``force`` executes a plan end-to-end into a noop sink (full execution,
no driver-side collect). ``process_tree_cpu_snapshot`` and
``process_tree_cpu_delta`` read the CPU time burned by this process and
every descendant from ``/proc``.
"""

from __future__ import annotations

import os


def force(df) -> None:
    """Execute the full plan without materializing rows on the driver."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# Process-tree CPU time. CPU time is load-immune where wall time is
# not: a contended host stretches wall while CPU stays put. In local[*]
# mode the ENTIRE engine — the driver JVM (which is also every
# executor) and the Python UDF worker daemons — runs as descendants of
# the measuring process, so /proc utime+stime deltas over the process
# tree between t0 and t1 ARE the operation's executor CPU time, with no
# SparkListener plumbing and no metrics race (stage completion events
# can land after the job returns; /proc reads are synchronous truth).
#
# The delta is computed PER PID, not from tree totals: pyspark's
# worker daemon ignores SIGCHLD, so exited python workers are
# kernel-auto-reaped and their CPU time is DISCARDED — it never lands
# in any parent's cutime. A tree-total delta therefore goes NEGATIVE
# whenever idle workers from an earlier query time out mid-measurement
# (observed: -8..-10s on single queries when a ~15s worker cohort
# vanished). Summing (now - then) over pids PRESENT at the end keeps
# the delta exact for survivors and new processes and loses only a
# dead worker's in-interval burn — which is ~0, since a worker only
# exits because it sat idle past its timeout.
# ---------------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> tuple[int, int, int]:
    """(ppid, ticks, starttime) from /proc/<pid>/stat; ticks =
    utime+stime+cutime+cstime (cutime covers normally-reaped
    short-lived children like Hadoop's shell calls). The comm field
    may contain spaces/parens; everything after the LAST ')' is
    well-formed space-separated fields."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        raw = f.read().decode("ascii", "replace")
    parts = raw[raw.rindex(")") + 2 :].split()
    # post-comm fields: [0]=state, [1]=ppid, [11]=utime, [12]=stime,
    #                   [13]=cutime, [14]=cstime, [19]=starttime
    ticks = int(parts[11]) + int(parts[12]) + int(parts[13]) + int(parts[14])
    return int(parts[1]), ticks, int(parts[19])


def process_tree_cpu_snapshot(
    root_pid: int | None = None,
) -> dict[tuple[int, int], int]:
    """{(pid, starttime): cumulative ticks} for ``root_pid`` and every
    live descendant. starttime in the key guards against pid reuse —
    a recycled pid reads as a NEW process, never as a continuation."""
    root = root_pid if root_pid is not None else os.getpid()
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[int, int]] = {}
    if not os.path.isdir("/proc"):
        # non-procfs host: no CPU reading — deltas degrade to 0.0
        return {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid, t, st = _stat_fields(entry)
        except (OSError, ValueError, IndexError):
            continue  # process exited between listdir and read
        pid = int(entry)
        children.setdefault(ppid, []).append(pid)
        info[pid] = (t, st)
    snap: dict[tuple[int, int], int] = {}
    stack, seen = [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen or pid not in info:
            continue
        seen.add(pid)
        t, st = info[pid]
        snap[(pid, st)] = t
        stack.extend(children.get(pid, []))
    return snap


def process_tree_cpu_delta(
    before: dict[tuple[int, int], int], after: dict[tuple[int, int], int]
) -> float:
    """CPU seconds burned between two snapshots: per-(pid, starttime)
    tick growth summed over processes present at the end. Monotone
    non-negative by construction (a given process's cumulative ticks
    never decrease); processes that died in the interval contribute
    nothing (their in-interval burn is unrecoverable and ~0 — see the
    module comment above)."""
    return sum(t - before.get(k, 0) for k, t in after.items()) / _CLK_TCK
