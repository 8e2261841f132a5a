"""The closed measurement loop, on a fake workload (no Spark)."""

from __future__ import annotations

import json

from perfbench.worker import run_ops


class Fake:
    def __init__(self, bad=(), raising=(), cycle=1, n_inputs=100):
        self.bad, self.raising, self.cycle, self.n_inputs = bad, raising, cycle, n_inputs
        self.ran: list[int] = []

    def op(self, i):
        self.ran.append(i)
        if i in self.raising:
            raise RuntimeError(f"op {i}")
        return i

    def check(self, i, out):
        return [f"wrong {i}"] if i in self.bad else []

    def can_stop(self, n):
        return n % self.cycle == 0

    def exhausted(self, i):
        return i >= self.n_inputs


def test_fixed_count_counts_failures_and_raises():
    wl = Fake(bad={1}, raising={2})
    run, nxt = run_ops(wl, 0, n=4)
    assert wl.ran == [0, 1, 2, 3] and nxt == 4
    assert (run.attempted, run.failed) == (4, 2)
    assert any("RuntimeError" in e for e in run.errors)


def test_zero_ops_runs_nothing():
    wl = Fake()
    run, nxt = run_ops(wl, 0, n=0)
    assert wl.ran == [] and nxt == 0 and run.attempted == 0


def test_window_respects_minimum_and_whole_cycles():
    # ops take ~0 s, so only the minimum and the cycle rule stop the loop
    run, nxt = run_ops(Fake(cycle=4), 2, seconds=0.0, min_ops=3)
    assert len(run.times) == 4 and nxt == 6


def test_window_stops_when_inputs_run_out():
    run, nxt = run_ops(Fake(n_inputs=3), 0, seconds=1e9, min_ops=1)
    assert run.attempted == 3 and nxt == 3


def test_runs_accumulate_into_one_record():
    wl = Fake(bad={0})
    first, nxt = run_ops(wl, 0, n=2)
    both, _ = run_ops(wl, nxt, n=2, run=first)
    assert both is first and (both.attempted, both.failed) == (4, 1)


def test_golden_record_covers_every_non_probe_check():
    from ai_ready_data_framework_spark import registry
    from ai_ready_data_framework_spark.checks.engine import CHECKS
    from perfbench.workloads import GOLDEN_ASSESS

    registry.load_all()
    with open(GOLDEN_ASSESS) as f:
        golden = json.load(f)
    assert set(golden) == {c.key for c in CHECKS if "P" not in c.kind}
    assert all(0.0 <= v <= 1.0 for v in golden.values())
