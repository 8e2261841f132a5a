"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``ai_ready_data_framework_spark``; this module
only adapts the registry to the driver's calling convention.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import sys
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Driver may invoke this file from any CWD; make the package importable.
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from ai_ready_data_framework_spark import registry  # noqa: E402

_PKG_ZIP: str | None = None
_SESSIONS_WITH_PKG: set[int] = set()


def _package_zip() -> str:
    """Zip the engine package once per process so it can be shipped to
    Spark's Python workers (pandas-UDF closures reference the package;
    workers don't inherit the driver's sys.path when the driver runs
    from outside the repo). The zip is removed at interpreter exit."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        fd, path = tempfile.mkstemp(prefix="aird_pkg_", suffix=".zip")
        os.close(fd)
        atexit.register(_remove_quietly, path)
        pkg_dir = os.path.join(_REPO_ROOT, "ai_ready_data_framework_spark")
        with zipfile.ZipFile(path, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, _REPO_ROOT))
        _PKG_ZIP = path
    return _PKG_ZIP


def _remove_quietly(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _ensure_nanos_readable(spark: SparkSession) -> None:
    """events.ts is Parquet TIMESTAMP(NANOS); Spark needs this flag to
    read it (io.load_table then converts the raw nanos to exact µs).
    Also ships the package zip to Python workers (once per session)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # io.local_df's fast path (small driver-side tables as ONE Arrow
    # LocalRelation instead of a pickled RDD that re-runs a Python
    # worker per partition per evaluation) needs the Arrow bridge on;
    # default-config driver sessions ship it off (Spark 4 default).
    # Results are identical either way — this only picks the cheap
    # construction path.
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    key = id(spark)
    if key not in _SESSIONS_WITH_PKG:
        spark.sparkContext.addPyFile(_package_zip())
        _SESSIONS_WITH_PKG.add(key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H-Q1-style pricing
    summary (scan → pushed filter → hash aggregate → sort)."""
    _ensure_nanos_readable(spark)
    registry.load_all()
    return registry.QUERIES["q_agg_group"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    registry.load_all()

    def wrap(fn: registry.QueryFn) -> Callable[[SparkSession, str], DataFrame]:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_nanos_readable(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in registry.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every ANSI-expressible declared query."""
    registry.load_all()
    return dict(registry.ORACLES)
