"""Declared-query registry.

Every operator the engine claims (SURVEY.md section 2.2's `query key`
column) registers here as a named query: a callable
``(spark, sf_dir) -> DataFrame`` plus, when ANSI-expressible, the
equivalent DuckDB SQL oracle. The driver's correctness gate runs both
sides at sf0.01 and compares row-count + schema + order-insensitive
value-hash; queries without an oracle get a weaker rows-only check.

Determinism rules enforced by convention here (FIXTURES.md:129-139):
- alias every computed column identically in Spark and SQL;
- round floating aggregates to 4 decimals (sum-order robustness);
- no wall-clock functions — freshness anchors on max(ts) in the data;
- timestamps leave queries as formatted strings or epoch integers;
- integer computed outputs are BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query, optionally with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so its queries register. Idempotent:
    a module imports once, so a repeated call (``run_assessment``, a
    check on the assessment's pool) leaves the registry as it is."""
    from ai_ready_data_framework_spark.operators import (  # noqa: F401
        relational,
        temporal,
        ai,
        multimodal,
        quality,
        corpus,
        pipeline,
    )
    from ai_ready_data_framework_spark.checks import enforce  # noqa: F401
    from ai_ready_data_framework_spark.checks import queries as check_queries  # noqa: F401
    from ai_ready_data_framework_spark.plans import assessment  # noqa: F401
    from ai_ready_data_framework_spark.streaming import stateful  # noqa: F401
