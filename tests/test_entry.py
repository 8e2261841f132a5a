"""Driver-contract smoke tests (BASELINE.md t1)."""

from __future__ import annotations

import os
import subprocess
import sys

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"l_returnflag", "l_linestatus", "sum_qty", "count_order"} <= cols


def test_queries_and_oracles_align(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert qs, "no queries declared"
    # every oracle refers to a declared query
    assert set(oracles) <= set(qs)


def test_entry_deterministic(spark):
    a = entry_mod.entry(spark).collect()
    b = entry_mod.entry(spark).collect()
    assert a == b


def test_package_zip_removed_at_exit(tmp_path):
    """The package zip shipped to Python workers lives in the temp dir
    only as long as the process that made it."""
    code = "import __spark_entry__ as e; p = e._package_zip(); print(p)"
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.abspath(entry_mod.__file__)),
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    path = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(path).startswith("aird_pkg_")
    assert os.path.dirname(path) == str(tmp_path)
    assert not list(tmp_path.glob("aird_pkg_*"))
