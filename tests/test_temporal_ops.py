"""Oracles for the round-2 temporal operators: funnel (DuckDB window
oracle) and EWMA (pandas recursion oracle — not ANSI-expressible)."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.io import table_path
from ai_ready_data_framework_spark.operators import temporal as TP
from ai_ready_data_framework_spark.registry import QUERIES


def test_funnel_matches_duckdb_oracle(spark, sf_correctness):
    s1, s2, s3 = TP.FUNNEL_STEPS
    ev = table_path(sf_correctness, "events")
    sql = f"""
        WITH e AS (
            SELECT user_id, event_type, ts
            FROM read_parquet('{ev}')
        ),
        w1 AS (
            SELECT *, MIN(CASE WHEN event_type = '{s1}' THEN ts END)
                      OVER (PARTITION BY user_id) AS t1
            FROM e
        ),
        w2 AS (
            SELECT *, MIN(CASE WHEN event_type = '{s2}' AND ts > t1 THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
            FROM w1
        ),
        w3 AS (
            SELECT *, MIN(CASE WHEN event_type = '{s3}' AND ts > t2 THEN ts END)
                      OVER (PARTITION BY user_id) AS t3
            FROM w2
        ),
        pu AS (
            SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
            FROM w3 GROUP BY 1
        ),
        n AS (
            SELECT CAST(COUNT(t1) AS BIGINT) AS n1,
                   CAST(COUNT(t2) AS BIGINT) AS n2,
                   CAST(COUNT(t3) AS BIGINT) AS n3
            FROM pu
        )
        SELECT CAST(1 AS BIGINT) AS step, '{s1}' AS event_type,
               n1 AS n_users, CAST(NULL AS DOUBLE) AS conv_from_prev FROM n
        UNION ALL
        SELECT 2, '{s2}', n2, ROUND(n2 / n1, 4) FROM n
        UNION ALL
        SELECT 3, '{s3}', n3, ROUND(n3 / n2, 4) FROM n
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_funnel"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    by_step = {r.step: r.n_users for r in rows}
    # strict ordering must be monotone non-increasing down the funnel
    assert by_step[1] >= by_step[2] >= by_step[3] > 0


def test_funnel_strict_ordering_on_micro_stream(spark):
    """Strict ordering semantics on a hand-built stream: a click
    BEFORE the user's first view must not advance the funnel, and a
    purchase between view and click must not count for step 3."""
    import datetime as dt

    t = lambda m: dt.datetime(2026, 1, 1, 0, m)
    rows = [
        # u1: clean view -> click -> purchase
        (1, t(0), "view"), (1, t(1), "click"), (1, t(2), "purchase"),
        # u2: click precedes the only view; no later click -> stops at t1
        (2, t(0), "click"), (2, t(1), "view"), (2, t(2), "purchase"),
        # u3: purchase sits between view and click -> t3 stays NULL
        (3, t(0), "view"), (3, t(1), "purchase"), (3, t(2), "click"),
        # u4: never views -> reaches nothing
        (4, t(0), "click"), (4, t(1), "purchase"),
    ]
    events = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r.user_id: (r.t1 is not None, r.t2 is not None, r.t3 is not None)
        for r in TP.funnel_per_user(events).collect()
    }
    assert got == {
        1: (True, True, True),
        2: (True, False, False),
        3: (True, True, False),
        4: (False, False, False),
    }


def test_ewma_matches_pandas_oracle(spark, sf_correctness):
    pdf = pd.read_parquet(table_path(sf_correctness, "events"))[
        ["user_id", "event_id", "ts", "value"]
    ]
    pdf = pdf.sort_values(["user_id", "ts", "event_id"])
    pdf["ewma_value"] = (
        pdf.groupby("user_id")["value"]
        .transform(lambda s: s.ewm(alpha=TP.EWMA_ALPHA, adjust=False).mean())
        .round(4)
    )
    expected = {
        (int(r.user_id), int(r.event_id), float(r.value), float(r.ewma_value))
        for r in pdf.itertuples()
    }
    rows = QUERIES["q_ewma"](spark, sf_correctness).collect()
    got = {(r.user_id, r.event_id, r.value, r.ewma_value) for r in rows}
    assert got == expected
    assert len(rows) == len(pdf)


def test_ewma_strategies_identical(spark, sf_correctness):
    """Partition-batched mapInPandas EWMA (shipped) must equal the
    per-group applyInPandas reference exactly — including across
    Arrow batch boundaries (exercised below with a tiny batch size so
    user runs straddle batches)."""
    from ai_ready_data_framework_spark.io import load_table
    from ai_ready_data_framework_spark.operators.temporal import (
        ewma_grouped,
        ewma_partition_batched,
    )

    events = load_table(spark, sf_correctness, "events")
    ref = {tuple(r) for r in ewma_grouped(events).collect()}
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        batched = {tuple(r) for r in ewma_partition_batched(events).collect()}
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert batched == ref


def test_time_rollup_matches_duckdb_oracle(spark, sf_correctness):
    """Multi-granularity GROUPING SETS rollup + PoP union (sixth union
    wave): identical (kind, day, hour, gid, count, sum, prev, pct) rows
    from both engines; level counts must be conservative (hourly sums
    to daily sums to the grand total) and the pop leg must mirror the
    rollup's day-level rows exactly."""
    ev = table_path(sf_correctness, "events")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{ev}')")
    expected = {
        tuple(r)
        for r in con.execute(TP.TIME_ROLLUP_UNION_ORACLE_SQL).fetchall()
    }
    rows = QUERIES["q_time_rollup"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    total = [r for r in rows if r.kind == "rollup" and r.gid == 3]
    hourly = [r for r in rows if r.kind == "rollup" and r.gid == 0]
    daily = [r for r in rows if r.kind == "rollup" and r.gid == 1]
    pop = [r for r in rows if r.kind == "pop"]
    assert len(total) == 1
    assert sum(r.n_events for r in hourly) == total[0].n_events
    assert sum(r.n_events for r in daily) == total[0].n_events
    # the pop leg is exactly the day level re-keyed with lag columns
    assert {(r.day, r.n_events, r.sum_value) for r in pop} == {
        (r.day, r.n_events, r.sum_value) for r in daily
    }
    assert sum(1 for r in pop if r.prev_value is None) == 1


def test_retention_matches_duckdb_oracle(spark, sf_correctness):
    ev = table_path(sf_correctness, "events")
    sql = f"""
        WITH first AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
            FROM read_parquet('{ev}') GROUP BY 1
        ),
        active AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
            FROM read_parquet('{ev}')
        ),
        cell AS (
            SELECT cohort_day,
                   CAST(datediff('day', cohort_day, day) AS BIGINT) AS day_offset,
                   COUNT(DISTINCT user_id) AS n_users
            FROM active JOIN first USING (user_id)
            GROUP BY 1, 2
        )
        SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
               day_offset, n_users,
               ROUND(n_users / (MAX(CASE WHEN day_offset = 0 THEN n_users END)
                                OVER (PARTITION BY cohort_day)), 4)
                   AS retention_frac
        FROM cell
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_retention"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    # day-0 cells exist for every cohort and carry retention 1.0
    d0 = [r for r in rows if r.day_offset == 0]
    assert d0 and all(r.retention_frac == 1.0 for r in d0)
    assert all(r.day_offset >= 0 for r in rows)


def test_dedup_latest_matches_duckdb_oracle(spark, sf_correctness):
    ev = table_path(sf_correctness, "events")
    sql = f"""
        SELECT user_id, event_id, event_type,
               ROUND(value, 4) AS value, epoch_us(ts) AS ts_us
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM read_parquet('{ev}')
        ) WHERE rn = 1
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_dedup_latest"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    # exactly one row per user
    assert len({r.user_id for r in rows}) == len(rows)


def test_period_over_period_matches_duckdb_oracle(spark, sf_correctness):
    ev = table_path(sf_correctness, "events")
    sql = f"""
        WITH daily AS (
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   COUNT(*) AS n_events,
                   SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
            FROM read_parquet('{ev}')
            GROUP BY 1
        )
        SELECT day, n_events, sum_value,
               ROUND(lag(sum_value) OVER (ORDER BY day), 4) AS prev_value,
               ROUND((sum_value - lag(sum_value) OVER (ORDER BY day))
                     / lag(sum_value) OVER (ORDER BY day) * 100.0, 4)
                   AS pct_change
        FROM daily
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_period_over_period"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    firsts = [r for r in rows if r.prev_value is None]
    assert len(firsts) == 1  # only the first day lacks a predecessor


def test_time_rollup_pop_leg_single_day(spark, tmp_path):
    """Degenerate pop leg: a corpus whose events all land on ONE day
    produces exactly one pop row with NULL prev/pct (no predecessor),
    mirroring the rollup's single day-level row — the lag-edge the
    graded union must not mangle."""
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 3, 5, 10, i), i % 3, "view", 1.25, "{}")
        for i in range(6)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["q_time_rollup"](spark, str(tmp_path)).collect()
    pop = [r for r in out if r.kind == "pop"]
    daily = [r for r in out if r.kind == "rollup" and r.gid == 1]
    assert len(pop) == 1 and len(daily) == 1
    assert pop[0].prev_value is None and pop[0].pct_change is None
    assert pop[0].n_events == 6 and pop[0].sum_value == daily[0].sum_value


def test_feature_backfill_matches_duckdb_oracle(spark, sf_correctness):
    """q_feature_backfill (multi-horizon trailing features) is
    SQL-expressible but registers rows-only, so its DuckDB
    oracle runs here: identical per-event feature rows at all three
    horizons."""
    ev = table_path(sf_correctness, "events")
    frames = []
    for h in TP.BACKFILL_HORIZONS_H:
        span = h * 3600 * 1_000_000
        frames.append(
            f"CAST(COUNT(*) OVER w{h} AS BIGINT) AS n_{h}h,\n"
            f"CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w{h} AS DOUBLE)"
            f" / 100.0 AS v_{h}h"
        )
    windows = ",\n".join(
        f"w{h} AS (PARTITION BY user_id ORDER BY epoch_us(ts) "
        f"RANGE BETWEEN {h * 3600 * 1_000_000 - 1} PRECEDING AND CURRENT ROW)"
        for h in TP.BACKFILL_HORIZONS_H
    )
    sql = f"""
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               {", ".join(frames)}
        FROM read_parquet('{ev}')
        WINDOW {windows}
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_feature_backfill"](spark, sf_correctness).collect()
    got = {tuple(r) for r in rows}
    assert got == expected
    # horizons nest: a wider trailing window can never see fewer events
    assert all(r.n_1h <= r.n_6h <= r.n_24h for r in rows)


def test_join_interval_matches_duckdb_overlap_join(spark, sf_correctness):
    """The bucketed interval join must equal the DIRECT overlap
    predicate join (the semantics it rewrites): DuckDB derives the same
    session and incident intervals, then joins on the raw
    a.start <= b.end AND b.start <= a.end condition."""
    ev = table_path(sf_correctness, "events")
    s_gap = TP.SESSION_GAP_MINUTES * 60 * 1_000_000
    i_gap = TP.INCIDENT_GAP_MINUTES * 60 * 1_000_000
    sql = f"""
        WITH sess AS (
            SELECT user_id, session_id,
                   MIN(epoch_us(ts)) AS s_start_us,
                   MAX(epoch_us(ts)) AS s_end_us
            FROM (
                SELECT user_id, ts,
                       CAST(SUM(is_new) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS session_id
                FROM (
                    SELECT user_id, ts, event_id,
                           CASE WHEN lag(ts) OVER (
                                    PARTITION BY user_id ORDER BY ts, event_id)
                                    IS NULL
                                  OR date_diff('microsecond',
                                       lag(ts) OVER (
                                           PARTITION BY user_id
                                           ORDER BY ts, event_id),
                                       ts) > {s_gap}
                                THEN 1 ELSE 0 END AS is_new
                    FROM read_parquet('{ev}')
                )
            ) GROUP BY user_id, session_id
        ),
        inc AS (
            SELECT incident_id,
                   MIN(epoch_us(ts)) AS i_start_us,
                   MAX(epoch_us(ts)) AS i_end_us,
                   COUNT(*) AS n_errors
            FROM (
                SELECT ts,
                       CAST(SUM(is_new) OVER (
                           ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS incident_id
                FROM (
                    SELECT ts, event_id,
                           CASE WHEN lag(ts) OVER (ORDER BY ts, event_id)
                                    IS NULL
                                  OR date_diff('microsecond',
                                       lag(ts) OVER (ORDER BY ts, event_id),
                                       ts) > {i_gap}
                                THEN 1 ELSE 0 END AS is_new
                    FROM read_parquet('{ev}')
                    WHERE event_type = 'error'
                )
            ) GROUP BY incident_id
        )
        SELECT s.user_id, s.session_id, i.incident_id, i.n_errors,
               ROUND((LEAST(s.s_end_us, i.i_end_us)
                      - GREATEST(s.s_start_us, i.i_start_us)) / 1000000.0,
                     4) AS overlap_s
        FROM sess s
        JOIN inc i
          ON s.s_start_us <= i.i_end_us AND i.i_start_us <= s.s_end_us
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    got = {
        tuple(r)
        for r in QUERIES["q_join_interval"](spark, sf_correctness).collect()
    }
    assert expected, "overlapping session/incident pairs expected"
    assert got == expected


def test_error_incidents_stitch_across_bucket_boundaries(spark):
    """_error_incidents_us (VERDICT r4 #4) derives bursts per coarse
    day bucket and stitches boundary-crossers: must equal the global
    single-pass gap grouping — including the 1..N time-order numbering
    — on a fixture with (a) a burst straddling a day boundary, (b) a
    25h burst chaining THROUGH an entire bucket, (c) isolated bursts,
    (d) non-error events interleaved that must be ignored."""
    import datetime as dt

    gap_lim = TP.INCIDENT_GAP_MINUTES * 60 * 1_000_000
    ts_list = []
    # (a) straddles midnight 2024-03-02 (UTC session tz = bucket edge)
    for m in (-8, -3, 2, 6):
        ts_list.append(dt.datetime(2024, 3, 2) + dt.timedelta(minutes=m))
    # (b) one 9-minute-cadence burst covering ALL of 2024-03-04
    t, end = dt.datetime(2024, 3, 3, 23, 30), dt.datetime(2024, 3, 5, 0, 30)
    while t <= end:
        ts_list.append(t)
        t += dt.timedelta(minutes=9)
    # (c) isolated bursts (size 1 and 2) in otherwise-quiet buckets
    ts_list += [
        dt.datetime(2024, 3, 1, 5, 0),
        dt.datetime(2024, 3, 1, 12, 0),
        dt.datetime(2024, 3, 6, 1, 0),
        dt.datetime(2024, 3, 6, 1, 5),
    ]
    rows = [(i, ts, "error") for i, ts in enumerate(sorted(ts_list))]
    # (d) noise events inside the gaps — filtered out by event_type
    rows += [
        (10_000 + i, ts + dt.timedelta(seconds=30), "click")
        for i, (_, ts, _t) in enumerate(rows[:20])
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    got = sorted(
        TP._error_incidents_us(events).collect(), key=lambda r: r.incident_id
    )
    # oracle: global single-pass grouping over Spark's own epoch micros
    err_us = sorted(
        r.u
        for r in events.filter(F.col("event_type") == "error")
        .select(F.unix_micros("ts").alias("u"))
        .collect()
    )
    expected, cur = [], [err_us[0]]
    for u in err_us[1:]:
        if u - cur[-1] > gap_lim:
            expected.append(cur)
            cur = [u]
        else:
            cur.append(u)
    expected.append(cur)
    assert len(got) == len(expected)
    for k, (r, grp) in enumerate(zip(got, expected), start=1):
        assert r.incident_id == k
        assert (r.i_start_us, r.i_end_us, r.n_errors) == (
            grp[0],
            grp[-1],
            len(grp),
        )
    # the fixture really exercised the stitch: burst (b) spans >1 day
    spans = [
        (r.i_end_us - r.i_start_us) / 86_400_000_000 for r in got
    ]
    assert max(spans) > 1.0, "fixture must contain a multi-bucket burst"


def test_error_incidents_empty_error_stream(spark):
    """Zero error events: the stitch's empty chain map / offset frames
    must build cleanly and the derivation return an empty result."""
    import datetime as dt

    events = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "click")],
        "event_id long, ts timestamp, event_type string",
    )
    assert TP._error_incidents_us(events).collect() == []
