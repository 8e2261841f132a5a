"""Cross-engine bit-identity of the fixed-point pow ladder (r8,
VERDICT r7 #2).

The ladder's hash-safety claim is NOT "close to libm pow" but
"BITWISE identical in every IEEE-754 engine" — every op is an exact
integer op or a correctly-rounded double +,-,*,/ on identical inputs.
These tests prove the claim three ways:

1. hypothesis sweep: DuckDB ladder == pure-Python ladder over random
   (n, t) across the full BIGINT range (thousands of inputs — Python
   floats are IEEE doubles, so equality here is the same property).
2. Spark == DuckDB on a structured sweep including the adversarial
   shapes (p = 1, p at power-of-two boundaries, tiny p, huge t).
3. Accuracy: the ladder sits within 5e-12 relative of libm pow — the
   documented approximation contract, so the operator's VALUES stay
   meaningful even though libm equality is never claimed.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ai_ready_data_framework_spark.functions.fixedmath import (
    POW_SCALE,
    pow_alpha_py,
    pow_alpha_sql,
    with_pow_alpha,
)

ALPHA = 0.3


def _duck_batch(pairs: list[tuple[int, int]]) -> list[int]:
    inner = " UNION ALL ".join(
        f"SELECT {i} AS ord_id, CAST({n} AS BIGINT) AS n, CAST({t} AS BIGINT) AS t"
        for i, (n, t) in enumerate(pairs)
    )
    sql = (
        f"SELECT s_fix FROM {pow_alpha_sql(inner, 'n', 't', ALPHA)} q"
        " ORDER BY ord_id"
    )
    return [r[0] for r in duckdb.connect().execute(sql).fetchall()]


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=1, max_value=2**62 - 1),
    st.integers(min_value=1, max_value=2**62 - 1),
)
def test_duckdb_matches_python_reference(a, b):
    n, t = min(a, b), max(a, b)
    assert _duck_batch([(n, t)]) == [pow_alpha_py(n, t, ALPHA)]


STRUCTURED_PAIRS = (
    [(1, 1), (1, 2), (1, 3), (2, 3), (999, 1000), (1, 2**62 - 1)]
    + [(2**i, 2**j) for i in (0, 10, 52) for j in (52, 61) if 2**i <= 2**j]
    + [(10**i, 10**j) for i in (0, 3, 9) for j in (9, 15) if 10**i <= 10**j]
    + [(k, 60000) for k in (1, 7, 25, 59999, 60000)]
)


def test_spark_matches_duckdb_structured_sweep(spark):
    df = spark.createDataFrame(
        [{"ord_id": i, "n": n, "t": t} for i, (n, t) in enumerate(STRUCTURED_PAIRS)]
    )
    got = [
        r.s_fix
        for r in with_pow_alpha(df, "n", "t", ALPHA).orderBy("ord_id").collect()
    ]
    assert got == _duck_batch(STRUCTURED_PAIRS)
    # and both match the Python reference
    assert got == [pow_alpha_py(n, t, ALPHA) for n, t in STRUCTURED_PAIRS]


def test_ladder_accuracy_vs_libm():
    for n, t in STRUCTURED_PAIRS:
        s = pow_alpha_py(n, t, ALPHA)
        true = POW_SCALE * (n / t) ** ALPHA
        # floor() quantization costs up to 1 unit; the series itself
        # is accurate to ~1e-13 relative
        assert abs(s - true) <= max(5e-12 * true, 1.0), (n, t, s, true)


def test_exact_one_at_equal_inputs():
    """p = 1 must give exactly POW_SCALE (no drift through the ladder:
    y = 0, k = 0, r = 0, exp-Horner collapses to 1.0 exactly)."""
    for v in (1, 2, 3, 2**40, 2**62 - 1):
        assert pow_alpha_py(v, v, ALPHA) == POW_SCALE


def test_monotone_in_n():
    """More mass -> never a smaller score (floor of a monotone chain
    can tie but not invert) — the property the planner's ranking
    relies on."""
    t = 60000
    vals = [pow_alpha_py(n, t, ALPHA) for n in range(1, 2000, 7)]
    assert vals == sorted(vals)


# ---------------------------------------------------------------------------
# r9 (ADVICE r8): the integer-argument ln ladder — the API that removes
# libm ln from the BM25/PSI hash-graded legs. Same three-way proof.
# ---------------------------------------------------------------------------

from ai_ready_data_framework_spark.functions.fixedmath import (  # noqa: E402
    ln_int_py,
    ln_ints_sql,
    with_ln_ints,
)


def _duck_ln_batch(vals: list[int]) -> list[float]:
    inner = " UNION ALL ".join(
        f"SELECT {i} AS ord_id, CAST({n} AS BIGINT) AS n"
        for i, n in enumerate(vals)
    )
    sql = (
        f"SELECT __l_ln FROM {ln_ints_sql(inner, [('__l', 'n')])} q"
        " ORDER BY ord_id"
    )
    return [r[0] for r in duckdb.connect().execute(sql).fetchall()]


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=2**62 - 1))
def test_ln_duckdb_matches_python_reference(n):
    assert _duck_ln_batch([n]) == [ln_int_py(n)]


LN_STRUCTURED = [1, 2, 3, 5, 7, 10, 59999, 60000, 2**31, 2**52, 2**62 - 1] + [
    10**i for i in range(1, 18)
]


def test_ln_spark_matches_duckdb_structured_sweep(spark):
    df = spark.createDataFrame(
        [{"ord_id": i, "n": n} for i, n in enumerate(LN_STRUCTURED)]
    )
    got = [
        r["__l_ln"]
        for r in with_ln_ints(df, [("__l", "n")]).orderBy("ord_id").collect()
    ]
    assert got == _duck_ln_batch(LN_STRUCTURED)
    assert got == [ln_int_py(n) for n in LN_STRUCTURED]


def test_ln_accuracy_vs_libm():
    for n in LN_STRUCTURED:
        assert abs(ln_int_py(n) - math.log(n)) <= 5e-13 * max(
            1.0, abs(math.log(n))
        ), n


def test_ln_exact_zero_at_one():
    """ln(1): e = 0, m = 1, z = 0 — the ladder collapses to exactly
    0.0 (the boundary BM25's idf hits when df == n_docs... never, but
    PSI's ratio hits when n_cur == n_ref and totals match)."""
    assert ln_int_py(1) == 0.0


def test_no_libm_transcendentals_under_hash_gate():
    """r9 invariant: after the ln/exp ladder sweep (BM25 idf, PSI
    log-ratio, TF-IDF idf, token entropy, KL/JS divergence, PMI,
    bigram-LM perplexity), NO registered oracle may call a libm
    transcendental — every ln/exp/pow under the driver's hash gate
    runs the fixedmath ladder, whose +,−,×,÷/shift stages are
    correctly-rounded-identical in every IEEE-754 engine. sqrt is
    exempt: IEEE-754 requires it correctly rounded, so it is as
    deterministic as division."""
    import re

    from ai_ready_data_framework_spark import registry

    registry.load_all()
    pat = re.compile(r"\b(ln|log|log2|log10|exp|power|pow)\s*\(", re.I)
    offenders = {}
    for name, sql in registry.ORACLES.items():
        code = "\n".join(line.split("--")[0] for line in sql.splitlines())
        hits = sorted(set(pat.findall(code)))
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


from ai_ready_data_framework_spark.functions.fixedmath import (  # noqa: E402
    exp_pos_py,
    exp_pos_sql,
    ln_pos_py,
    ln_pos_sql,
)


def _duck_pos_batch(vals: list[float], wrap, out_col: str) -> list[float]:
    """Feed doubles as BOUND PARAMETERS, not literals: a repr() with 17
    significant digits parses as DECIMAL whose DOUBLE conversion is
    off by 1 ulp in DuckDB once the scaled int exceeds 2^53 — a
    literal-parsing artifact the production paths never hit (their
    inputs are integer-derived columns)."""
    con = duckdb.connect()
    con.execute("CREATE TABLE vin(ord_id BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO vin VALUES (?, ?)", list(enumerate(vals)))
    sql = (
        f"SELECT {out_col} FROM {wrap('SELECT * FROM vin', [('__p', 'x')])} q"
        " ORDER BY ord_id"
    )
    return [r[0] for r in con.execute(sql).fetchall()]


def _duck_ln_pos_batch(vals: list[float]) -> list[float]:
    return _duck_pos_batch(vals, ln_pos_sql, "__p_ln")


def _duck_exp_pos_batch(vals: list[float]) -> list[float]:
    return _duck_pos_batch(vals, exp_pos_sql, "__p_exp")


# domain: floor(x·2^61) must stay under 2^63 => x < 4 strictly
@settings(max_examples=150, deadline=None)
@given(st.floats(min_value=1e-12, max_value=3.999999, allow_nan=False))
def test_ln_pos_duckdb_matches_python_reference(x):
    assert _duck_ln_pos_batch([x]) == [ln_pos_py(x)]


# domain: 0 <= x < 125*ln2 (~86.6) — the two-shift power-of-two scale
# (ADVICE r9: the old single `1 << k` wrapped from x >= 63*ln2)
@settings(max_examples=150, deadline=None)
@given(st.floats(min_value=0.0, max_value=86.6, allow_nan=False))
def test_exp_pos_duckdb_matches_python_reference(x):
    assert _duck_exp_pos_batch([x]) == [exp_pos_py(x)]


LN_POS_STRUCTURED = [1e-12, 1e-9, 0.001, 0.5, 1.0, 1.5, 2.0, 3.9999]
# 44.0 and 80.0 sit past the old 63*ln2 wrap point on purpose
EXP_POS_STRUCTURED = [0.0, 1e-9, 0.5, 1.0, 2.0, 10.0, 15.5, 39.9, 44.0, 80.0]


def test_pos_ladders_spark_matches_duckdb(spark):
    from ai_ready_data_framework_spark.functions.fixedmath import (
        with_exp_pos,
        with_ln_pos,
    )

    df = spark.createDataFrame(
        [{"ord_id": i, "x": x} for i, x in enumerate(LN_POS_STRUCTURED)]
    )
    got = [
        r["__p_ln"]
        for r in with_ln_pos(df, [("__p", "x")]).orderBy("ord_id").collect()
    ]
    assert got == _duck_ln_pos_batch(LN_POS_STRUCTURED)
    assert got == [ln_pos_py(x) for x in LN_POS_STRUCTURED]

    df2 = spark.createDataFrame(
        [{"ord_id": i, "x": x} for i, x in enumerate(EXP_POS_STRUCTURED)]
    )
    got2 = [
        r["__p_exp"]
        for r in with_exp_pos(df2, [("__p", "x")]).orderBy("ord_id").collect()
    ]
    assert got2 == _duck_exp_pos_batch(EXP_POS_STRUCTURED)
    assert got2 == [exp_pos_py(x) for x in EXP_POS_STRUCTURED]


def test_pos_ladders_accuracy_vs_libm():
    for x in LN_POS_STRUCTURED:
        # quantization adds <= 2^-61/x relative on the ARGUMENT
        assert abs(ln_pos_py(x) - math.log(x)) <= max(
            2 ** -61 / x * 2, 5e-13 * max(1.0, abs(math.log(x)))
        ), x
    for x in EXP_POS_STRUCTURED:
        assert abs(exp_pos_py(x) - math.exp(x)) <= 5e-12 * math.exp(x), x
