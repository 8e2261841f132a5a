"""Summary math shared by the benchmark and its repeat-run checker."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile (as
    ``statistics.quantiles(values, n=4)`` gives them) as a share of the
    median. Needs at least two values and a non-zero median."""
    if len(values) < 2:
        raise ValueError("quartile spread needs at least two values")
    q1, _, q3 = statistics.quantiles(values, n=4)
    mid = statistics.median(values)
    if mid == 0:
        raise ValueError("quartile spread of values with median 0")
    return (q3 - q1) / abs(mid)


def worse_by(base: float, new: float, better: str) -> float:
    """How much worse ``new`` is than ``base``, as a share of ``base``
    (negative when it is better)."""
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
    change = (new - base) / abs(base)
    return change if better == "lower" else -change


def check_bounds(
    runs: list[dict[str, float]],
    metrics: list[dict],
    exempt_spread: tuple[str, ...] = ("setup_s",),
) -> dict[str, dict]:
    """Per end-to-end metric (``{"name", "better", "bound"}`` entries as
    in BENCHMARK.json): median, quartile spread and whether the spread
    is within the bound. Metrics in ``exempt_spread`` always pass."""
    out: dict[str, dict] = {}
    for m in metrics:
        values = [r[m["name"]] for r in runs]
        spread = quartile_spread(values)
        out[m["name"]] = {
            "median": median(values),
            "spread": spread,
            "bound": m["bound"],
            "ok": m["name"] in exempt_spread or spread <= m["bound"],
        }
    return out


def check_drift(
    first: list[dict[str, float]], second: list[dict[str, float]], metrics: list[dict]
) -> dict[str, dict]:
    """Whether the second set's median is not worse than the first's by
    more than each metric's bound."""
    out: dict[str, dict] = {}
    for m in metrics:
        a = median([r[m["name"]] for r in first])
        b = median([r[m["name"]] for r in second])
        w = worse_by(a, b, m["better"])
        out[m["name"]] = {"first": a, "second": b, "worse_by": w, "ok": w <= m["bound"]}
    return out
