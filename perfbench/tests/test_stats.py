"""Summary math and the bound checks of the repeat-run checker."""

from __future__ import annotations

import statistics

import pytest

from perfbench.stats import check_bounds, check_drift, median, quartile_spread, worse_by

METRICS = [
    {"name": "setup_s", "better": "lower", "bound": 0.25},
    {"name": "op_p50_s", "better": "lower", "bound": 0.1},
    {"name": "ops_per_s", "better": "higher", "bound": 0.1},
]


def test_quartile_spread_matches_statistics_quantiles():
    values = [9.8, 10.1, 9.9, 10.4, 10.0, 9.7, 10.2, 10.3, 9.6, 10.0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / statistics.median(values))


def test_quartile_spread_is_scale_free_and_zero_for_constants():
    values = [1.0, 2.0, 3.0, 4.0]
    assert quartile_spread(values) == pytest.approx(quartile_spread([v * 7 for v in values]))
    assert quartile_spread([5.0] * 6) == 0.0


@pytest.mark.parametrize("values", [[], [1.0], [0.0, 0.0, 0.0]])
def test_quartile_spread_rejects_degenerate_input(values):
    with pytest.raises(ValueError):
        quartile_spread(values)


def test_median_even_and_odd():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_worse_by_follows_direction():
    assert worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert worse_by(10.0, 9.0, "lower") == pytest.approx(-0.1)
    assert worse_by(10.0, 9.0, "higher") == pytest.approx(0.1)
    with pytest.raises(ValueError):
        worse_by(1.0, 2.0, "sideways")


def _runs(op_values, setup_values=None, rate=None):
    setup_values = setup_values or [1.0] * len(op_values)
    return [
        {"setup_s": s, "op_p50_s": v, "ops_per_s": rate or 1.0 / v}
        for s, v in zip(setup_values, op_values)
    ]


def test_check_bounds_passes_steady_and_fails_noisy():
    steady = check_bounds(_runs([10.0, 10.1, 9.9, 10.0, 10.05]), METRICS)
    assert all(m["ok"] for m in steady.values())
    noisy = check_bounds(_runs([5.0, 10.0, 15.0, 8.0, 12.0]), METRICS)
    assert not noisy["op_p50_s"]["ok"]
    assert noisy["op_p50_s"]["spread"] > 0.1


def test_check_bounds_exempts_setup_spread():
    out = check_bounds(_runs([10.0] * 5, setup_values=[1.0, 5.0, 9.0, 2.0, 7.0]), METRICS)
    assert out["setup_s"]["spread"] > 0.25
    assert out["setup_s"]["ok"]


def test_check_drift_uses_each_metrics_direction_and_bound():
    first = _runs([10.0] * 5)
    slower = _runs([10.5] * 5)  # 5% worse: within the 10% bound
    much_slower = _runs([12.0] * 5)  # 20% worse op time, ~17% lower rate
    assert all(m["ok"] for m in check_drift(first, slower, METRICS).values())
    drift = check_drift(first, much_slower, METRICS)
    assert not drift["op_p50_s"]["ok"]
    assert not drift["ops_per_s"]["ok"]
    faster = check_drift(first, _runs([8.0] * 5), METRICS)
    assert faster["op_p50_s"]["worse_by"] < 0 and faster["op_p50_s"]["ok"]
