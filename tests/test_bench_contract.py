"""The per-pid ``/proc`` CPU sampler in ``bench.py``, which the
benchmark uses for its ``cpu_s_per_op`` and per-process CPU counters."""

from __future__ import annotations

import bench


def test_process_tree_cpu_delta_measures_own_burn():
    """The /proc snapshot delta must see CPU burned by this very
    process."""
    import time as _t

    s0 = bench.process_tree_cpu_snapshot()
    t_end = _t.process_time() + 0.3
    x = 0
    while _t.process_time() < t_end:
        x += sum(range(1000))
    d = bench.process_tree_cpu_delta(s0, bench.process_tree_cpu_snapshot())
    assert d >= 0.2, d


def test_process_tree_cpu_delta_ignores_vanished_pids():
    """The pyspark worker daemon SIG_IGNs SIGCHLD, so dead workers'
    ticks are discarded by the kernel — a tree-total delta would go
    negative when a big worker cohort times out mid-query (the first
    r9 bench measured -8..-10s on innocent queries). The per-pid delta
    must stay non-negative when processes vanish between snapshots."""
    tck = bench._CLK_TCK
    s0 = {(111, 5): 4_000, (222, 9): 1_500}  # 222 dies in the interval
    s1 = {(111, 5): 4_100}
    assert bench.process_tree_cpu_delta(s0, s1) == 100 / tck
    # pid reuse: same pid, new starttime => new process, counted from 0
    s2 = {(111, 5): 4_100, (222, 77): 300}
    assert bench.process_tree_cpu_delta(s0, s2) == 400 / tck
