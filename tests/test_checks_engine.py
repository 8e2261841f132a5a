"""Assessment-engine tests (SURVEY.md §5.3): 48 checks, normalized
values, no silent errors, factor rollup, workload filtering, and
micro-DF fraction exactness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.checks.engine import (
    CHECKS,
    factor_scores,
    run_assessment,
)


@pytest.fixture(scope="module")
def assessment_run(spark, sf_smoke):
    """The fixture's full assessment and the ``check … errored``
    warnings it raised."""
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        scores = run_assessment(spark, sf_smoke, run_streaming=False).cache()
    return scores, [str(w.message) for w in caught if "errored" in str(w.message)]


@pytest.fixture(scope="module")
def assessment(assessment_run):
    return assessment_run[0]


@pytest.fixture
def scratch_names(monkeypatch) -> list[str]:
    """Every name a CheckContext asks a scratch path for, in order."""
    from ai_ready_data_framework_spark.checks.engine import CheckContext

    names: list[str] = []
    scratch = CheckContext.scratch

    def recording(self, name: str) -> str:
        names.append(name)
        return scratch(self, name)

    monkeypatch.setattr(CheckContext, "scratch", recording)
    return names


def _last_job(spark) -> int:
    """The SparkContext's highest job id, once every job is counted."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _shuffle_written(spark) -> int:
    """Shuffle bytes written by every executor so far."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    execs = jsc.statusStore().executorList(True)
    return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))


def _sorted_on(path: str, key: list[str]) -> bool:
    """Whether the Parquet file at ``path`` is sorted ascending on
    ``key``, NULLs first (Spark's ascending order)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=key)
    order = pc.sort_indices(
        tbl, sort_keys=[(k, "ascending") for k in key], null_placement="at_start"
    )
    return tbl.take(order).equals(tbl)


def test_all_48_checks_present():
    assert len(CHECKS) == 48
    by_factor: dict[str, int] = {}
    for c in CHECKS:
        by_factor[c.factor] = by_factor.get(c.factor, 0) + 1
    # factor subtotals per requirements.yaml (SURVEY.md §2.1)
    assert by_factor == {
        "contextual": 8,
        "consumable": 12,
        "current": 9,
        "correlated": 9,
        "compliant": 10,
    }
    assert len({c.key for c in CHECKS}) == 48


def test_assessment_values_normalized(assessment):
    rows = assessment.collect()
    assert len(rows) == 48
    for r in rows:
        assert 0.0 <= r.value <= 1.0, r


def test_assessment_raises_no_check_error(assessment_run):
    """run_assessment turns a raising check into a 0.0 score plus a
    warning; on the healthy fixture no check may raise, or every check
    a failed profile serves would read as a silent 0.0."""
    assert assessment_run[1] == []


def test_factor_rollup(assessment):
    rollup = {r.factor: r for r in factor_scores(assessment).collect()}
    assert set(rollup) == {
        "(overall)",
        "contextual",
        "consumable",
        "current",
        "correlated",
        "compliant",
    }
    assert rollup["(overall)"].n_checks == 48
    for r in rollup.values():
        assert 0.0 <= r.score <= 1.0


def test_workload_tags():
    """Workload selection metadata (requirements.yaml:4): training-only
    and serving-only checks exist; every check carries >=1 tag."""
    t_only = {c.key for c in CHECKS if c.workloads == ("training",)}
    s_only = {c.key for c in CHECKS if c.workloads == ("serving",)}
    assert "bias_testing_coverage" in t_only
    assert "chunk_readiness" in s_only
    for c in CHECKS:
        assert set(c.workloads) <= {"serving", "training"} and c.workloads


def test_workload_filter_runs_subset(spark, sf_smoke, scratch_names):
    training = run_assessment(spark, sf_smoke, workload="training", run_streaming=False)
    keys = {r.requirement for r in training.collect()}
    expected = {c.key for c in CHECKS if "training" in c.workloads}
    assert keys == expected
    # no selected check reads the serving store, so it is never written
    assert "serving_store" not in scratch_names


def test_fraction_check_exact_on_micro_df(spark):
    """Check semantics ground truth: 3 of 4 rows passing ⇒ exactly
    0.75 (SURVEY.md §5.3)."""
    df = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 99)], "id int, declared int"
    )
    value = df.agg(
        F.avg(F.when(F.col("declared") == 10, 1.0).otherwise(0.0))
    ).collect()[0][0]
    assert value == 0.75


def test_known_check_values(assessment):
    scores = {r.requirement: r.value for r in assessment.collect()}
    # data-level invariants of the frozen corpus
    assert scores["embedding_coverage"] == 1.0  # every doc has a vector
    assert scores["embedding_dimension_consistency"] == 1.0  # all 64-dim
    assert scores["point_in_time_correctness"] == 1.0  # as-of never leaks
    assert scores["field_masking"] == 1.0  # masks always differ from raw
    assert scores["chunk_readiness"] == 1.0  # 50-token chunks fit budget
    assert scores["record_level_traceability"] == 1.0  # event_id unique
    assert scores["entity_identifier_declaration"] == 0.9  # lineitem pk dup
    # the self-auditing checks consume the engine's own run log; a
    # scheduler change that defers run-log appends zeroes them (caught
    # live in round 5) — every check on the healthy fixture scores > 0
    assert scores["pipeline_execution_audit"] == 1.0
    assert not [k for k, v in scores.items() if v == 0.0]


def test_assessment_survives_partial_layout(spark, tmp_path, sf_smoke):
    """A data product that declares only a subset of the canonical
    tables (documents here) must still assess: missing-table checks
    error to score 0.0 with a warning, everything else runs, and all
    48 scores stay in [0, 1] — no crash, no absent rows."""
    import os
    import shutil
    import warnings

    from ai_ready_data_framework_spark.plans.assessment import assess

    src = f"{sf_smoke}/documents.parquet"
    dst = str(tmp_path / "documents.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy(src, dst)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        scores, rollup = assess(spark, str(tmp_path), run_streaming=False)
    rows = scores.collect()
    assert len(rows) == 48
    assert all(0.0 <= r.value <= 1.0 for r in rows)
    # at least the document-level checks still produce signal
    by_key = {r.requirement: r.value for r in rows}
    assert by_key["chunk_readiness"] > 0
    assert len(rollup.collect()) > 0


def test_unique_constraint_ansi_null_semantics(spark, sf_smoke):
    """ADVICE r4: pin the 'unique' constraint's ANSI semantics —
    count_distinct(c) == count(c) skips NULLs, so a column with
    duplicate NULLs (but distinct non-NULL values) PASSES unique (key
    nullability is the separate not_null constraint's job). Also prove
    the r4 switch from the old distinct().count() form could not have
    moved any score: every declared unique key column in the fixture
    has zero NULLs, where the two forms agree."""
    from ai_ready_data_framework_spark.checks import registries as R
    from ai_ready_data_framework_spark.io import load_table

    df = spark.createDataFrame(
        [(1,), (2,), (None,), (None,)], "k int"
    )
    ansi_unique = df.agg(
        (F.count_distinct(F.col("k")) == F.count(F.col("k"))).cast("int")
    ).collect()[0][0]
    assert ansi_unique == 1, "duplicate NULLs must pass ANSI unique"
    # the pre-r4 form treated the NULL pair as a duplicate
    legacy_unique = int(df.distinct().count() == df.count())
    assert legacy_unique == 0
    # fixture unique keys are all non-null -> no score drift possible
    for t, c, kind, _lo, _hi in R.CONSTRAINTS:
        if kind == "unique":
            n_null = (
                load_table(spark, sf_smoke, t)
                .filter(F.col(c).isNull())
                .count()
            )
            assert n_null == 0, (t, c)


def test_propagation_sla_scores_serial_records_only(spark, sf_smoke):
    """ADVICE r5: pooled checks measure wall-clock under 6-way
    concurrency, so their duration_s is contention-inflated and MUST
    NOT feed the propagation SLA — a loaded scheduler would flip the
    graded score nondeterministically. Only serially-timed records
    count; with none, compliance is vacuous (1.0)."""
    from ai_ready_data_framework_spark.checks import engine as E
    from ai_ready_data_framework_spark.checks import registries as R

    ctx = E.CheckContext(spark=spark, sf_dir=sf_smoke)
    fast = {"duration_s": 0.01, "timing": "serial"}
    slow_pooled = {"duration_s": R.PROPAGATION_SLA_S * 100, "timing": "pooled"}
    slow_serial = {"duration_s": R.PROPAGATION_SLA_S * 100, "timing": "serial"}

    ctx.run_log.extend([dict(fast), dict(slow_pooled)])
    # contention-inflated pooled record is ignored -> full compliance
    assert E.propagation_latency_compliance(ctx) == 1.0
    ctx.run_log.append(dict(slow_serial))
    # a genuinely slow serial run DOES count (1 of 2 serial within SLA)
    assert E.propagation_latency_compliance(ctx) == 0.5
    # no serial record yet -> vacuous compliance, not a violation
    ctx.run_log[:] = [dict(slow_pooled)]
    assert E.propagation_latency_compliance(ctx) == 1.0


# --- table profiles -----------------------------------------------------------

PROFILE_ONLY = (
    "entity_identifier_declaration",
    "constraint_declaration",
    "data_freshness",
    "retention_policy",
    "consent_coverage",
    "record_level_traceability",
    "agent_attribution",
)
PROFILE_SERVED = PROFILE_ONLY + (
    "demographic_representation",
    "bias_testing_coverage",
    "embedding_coverage",
    "temporal_referential_integrity",
    "feature_refresh_compliance",
)


def _micro_product(spark, root, empty: str, n_files: int = 1) -> dict:
    """Six tables with one defect of each kind the profiles count:
    events has a NULL and a duplicated PK (and a NULL ts), orders an
    out-of-range total, documents a NULL in not_null ``text``,
    embeddings a duplicated PK, a NULL label and a document without a
    vector. documents carries both quasi-identifiers (lang, source).
    The temporal table ``empty`` is written with no rows. The
    label shares are dyadic, so the total variation is exact in any
    summation order. Each table is ``n_files`` Parquet files, its rows
    dealt round-robin (a file may hold none)."""
    import datetime as dt

    from ai_ready_data_framework_spark.io import load_tables

    d, ts = dt.date, dt.datetime
    tables = {
        "customer": (
            [(1, "a"), (2, "b"), (3, "c")],
            "c_custkey int, c_name string",
        ),
        "orders": (
            [
                (1, 10.0, d(2024, 1, 1)),
                (2, -5.0, d(2024, 1, 10)),
                (3, 5.0, d(2023, 12, 1)),
            ],
            "o_orderkey int, o_totalprice double, o_orderdate date",
        ),
        "lineitem": (
            [
                (1, 1, 0.1, 0.05, 3.0, d(2024, 1, 9)),
                (1, 2, 0.2, 0.0, 1.0, d(2024, 1, 5)),
            ],
            "l_orderkey int, l_linenumber int, l_discount double, l_tax double,"
            " l_quantity double, l_shipdate date",
        ),
        "events": (
            [
                (1, ts(2024, 1, 10), 5, 1.0),
                (2, ts(2024, 1, 1), None, 2.0),
                (2, ts(2019, 6, 1), 7, 3.0),
                (None, ts(2024, 1, 9), 8, 4.0),
                (3, None, 9, 5.0),
            ],
            "event_id bigint, ts timestamp, user_id int, value double",
        ),
        "documents": (
            [(1, "x", "en", "web"), (2, None, "fr", "web"), (3, "z", "en", "web")],
            "doc_id bigint, text string, lang string, source string",
        ),
        "embeddings": (
            list(
                zip(
                    [1, 2, 2, 4, 5, 6, 7, 8],
                    ["a", "a", "a", "b", "b", "c", "c", None],
                )
            ),
            "vec_id bigint, label string",
        ),
    }
    for name, (rows, schema) in tables.items():
        rows = [] if name == empty else rows
        for i in range(n_files):
            spark.createDataFrame(rows[i::n_files], schema).coalesce(1).write.mode(
                "append"
            ).parquet(f"{root}/{name}.parquet")
    return load_tables(spark, str(root))


def _parent_formulas(T: dict) -> dict:
    """Each profile-served check, and the k-anonymity check, computed
    the way it was before the profiles and the one-split rule: its own
    scans, one per fact, none coalesced."""
    from datetime import timedelta

    from ai_ready_data_framework_spark.checks import registries as R
    from ai_ready_data_framework_spark.checks.engine import _frac

    def scalar(df):
        v = df.collect()[0][0]
        return 0.0 if v is None else float(v)

    out = {}
    ok = 0
    for t in sorted(T):
        cols = R.PRIMARY_KEYS[t].split(",")
        row = T[t].agg(
            F.count_distinct(*cols).alias("d"), F.count(F.lit(1)).alias("n")
        ).first()
        ok += row.d == row.n
    out["entity_identifier_declaration"] = _frac(ok, len(T))
    passed = 0
    for t, c, kind, lo, hi in R.CONSTRAINTS:
        col = F.col(c)
        if kind == "unique":
            holds = F.count_distinct(col) == F.count(col)
        elif kind == "not_null":
            holds = F.count(F.when(col.isNull(), 1)) == 0
        else:
            holds = F.count(F.when(~col.between(lo, hi), 1)) == 0
        passed += T[t].agg(holds.cast("int")).first()[0]
    out["constraint_declaration"] = _frac(passed, len(R.CONSTRAINTS))
    temporal = {t: c for t, c in R.TEMPORAL_SCOPE.items() if c and t in T}
    maxes = {
        t: T[t].agg(F.max(F.col(c).cast("timestamp"))).first()[0]
        for t, c in temporal.items()
    }
    fresh = 0
    for t in temporal:
        dom = R.TIMELINE_DOMAINS.get(t, t)
        seen = [
            maxes[u]
            for u in temporal
            if R.TIMELINE_DOMAINS.get(u, u) == dom and maxes[u] is not None
        ]
        # before the profiles an all-empty domain raised ValueError in
        # max(); its members now count as stale
        fresh += bool(seen) and maxes[t] is not None and (
            max(seen) - maxes[t] <= timedelta(hours=R.FRESHNESS_SLA_HOURS)
        )
    out["data_freshness"] = _frac(fresh, len(temporal))
    ok = 0
    for t, days in R.RETENTION_DAYS.items():
        c = F.col(R.TEMPORAL_SCOPE[t]).cast("timestamp")
        row = T[t].agg(F.min(c).alias("lo"), F.max(c).alias("hi")).first()
        ok += row.lo is not None and (row.hi - row.lo).days <= days
    out["retention_policy"] = _frac(ok, len(R.RETENTION_DAYS))
    personal = [t for t, m in R.ASSETS.items() if m.get("personal")]
    out["consent_coverage"] = _frac(
        sum(T[t].count() for t in personal if t in R.CONSENT_BASIS),
        sum(T[t].count() for t in personal),
    )
    ev = T["events"]
    out["record_level_traceability"] = _frac(
        min(
            ev.select("event_id").distinct().count(),
            ev.filter(F.col("event_id").isNotNull()).count(),
        ),
        ev.count(),
    )
    out["agent_attribution"] = scalar(
        ev.agg(F.avg(F.when(F.col("user_id").isNotNull(), 1.0).otherwise(0.0)))
    )
    emb = T["embeddings"]
    total, n_labels = emb.count(), emb.select("label").distinct().count()
    tv = scalar(
        emb.groupBy("label")
        .agg((F.count("*") / F.lit(float(total))).alias("share"))
        .agg(F.sum(F.abs(F.col("share") - 1.0 / n_labels)) / 2)
    )
    out["demographic_representation"] = max(0.0, 1.0 - tv)
    out["bias_testing_coverage"] = 1.0
    docs = T["documents"]
    missing = docs.join(emb, docs.doc_id == emb.vec_id, "left_anti").count()
    out["embedding_coverage"] = _frac(docs.count() - missing, docs.count())
    anchor = ev.agg(F.max("ts")).first()[0]
    in_scope = F.col("ts").isNotNull() & F.col("ts").between("2020-01-01", anchor)
    out["temporal_referential_integrity"] = scalar(
        ev.agg(F.avg(F.when(in_scope, 1.0).otherwise(0.0)))
    )
    from ai_ready_data_framework_spark.streaming.parity import hourly_event_features

    anchor_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    per_user = (
        hourly_event_features(ev)
        .groupBy("user_id")
        .agg(F.max("window_start_us").alias("last_us"))
    )
    tol_us = R.FEATURE_STALENESS_HOURS * 3600 * 1_000_000
    out["feature_refresh_compliance"] = scalar(
        per_user.agg(
            F.avg(
                F.when(F.lit(anchor_us) - F.col("last_us") <= tol_us, 1.0).otherwise(
                    0.0
                )
            )
        )
    )
    min_group = (
        docs.groupBy(*R.QUASI_IDENTIFIERS).count().agg(F.min("count")).first()[0]
    )
    out["anonymization_effectiveness"] = min(1.0, float(min_group) / R.KANON_K)
    return out


@pytest.mark.parametrize(
    "empty, n_files",
    [("lineitem", 1), ("events", 1), ("lineitem", 3), ("events", 3)],
    ids=["lineitem", "events", "lineitem-three_files", "events-three_files"],
)
def test_profile_checks_keep_exact_semantics(spark, tmp_path, empty, n_files):
    """Every profile-served check returns exactly what its own scans
    gave on a product holding a NULL PK, a duplicated PK, an
    out-of-range value, a NULL in a not_null column and an empty
    temporal table. With events empty, the tracker domain has no
    timestamps: data_freshness scores its member stale instead of
    raising. One file per table scans as one split and profiles
    through the plain distinct count in one task; three files scan as
    three splits and keep the FILTER/Expand form, empty tables
    included."""
    from ai_ready_data_framework_spark.checks import engine as E

    # every file its own split, whatever the session's core count
    cost = "spark.sql.files.openCostInBytes"
    old_cost = spark.conf.get(cost)
    spark.conf.set(cost, str(128 << 20))
    try:
        tables = _micro_product(spark, tmp_path, empty, n_files)
        for t, df in tables.items():
            assert df.rdd.getNumPartitions() == n_files, t
            assert E._whole_table(df)[1] == (n_files == 1), t
        expected = _parent_formulas(tables)
        ctx = E.CheckContext(spark=spark, sf_dir=str(tmp_path), tables=tables)
        got = {
            k: getattr(E, k)(ctx)
            for k in PROFILE_SERVED + ("anonymization_effectiveness",)
        }
    finally:
        spark.conf.set(cost, old_cost)
    assert got == expected
    # the defects are visible, so the equality above is not vacuous
    assert got["entity_identifier_declaration"] < 1.0
    assert got["constraint_declaration"] < 1.0
    assert got["data_freshness"] == 2 / 3
    assert got["retention_policy"] == 2 / 3
    assert got["demographic_representation"] == 0.875
    # (fr, web) is a group of one
    assert got["anonymization_effectiveness"] == 1 / 5
    if empty == "events":
        # an empty log: avg over no rows is NULL -> 0.0, not _frac's 1.0
        assert got["agent_attribution"] == 0.0
        assert got["record_level_traceability"] == 1.0
        assert got["feature_refresh_compliance"] == 0.0
    else:
        # distinct() counts the NULL id as a value: min(4, 4) / 5, not
        # min(3, 4) / 5
        assert got["record_level_traceability"] == 0.8
        assert got["agent_attribution"] == 0.8
        # users 5 and 8 are within 96 h of the anchor, the NULL user
        # (9 days) and 7 are stale; 9's only event has no ts and no window
        assert got["feature_refresh_compliance"] == 0.5


def test_profile_only_checks_run_no_spark_job(spark, sf_smoke):
    """Once the table profiles and label_counts exist, the profile-only
    checks (and demographic_representation) are pure functions of
    them, and the lineage checks read only the registries: the
    SparkContext's highest job id does not advance."""
    from ai_ready_data_framework_spark.checks import engine as E
    from ai_ready_data_framework_spark.io import load_tables

    ctx = E.CheckContext(
        spark=spark, sf_dir=sf_smoke, tables=load_tables(spark, sf_smoke)
    )
    for t in ctx.tables:
        E.table_profile(ctx, t)
    E.label_counts(ctx)
    before = _last_job(spark)
    for key in PROFILE_ONLY + (
        "demographic_representation",
        "lineage_completeness",
        "dependency_graph_completeness",
        "impact_analysis_capability",
    ):
        assert 0.0 <= getattr(E, key)(ctx) <= 1.0
    assert _last_job(spark) == before


def test_one_split_aggregates_run_as_one_job_without_shuffle(spark, sf_smoke):
    """Every fixture table scans as one split, so its profile,
    label_counts, (once the profiles exist) the feature-refresh and
    k-anonymity checks, the point-in-time as-of join, the inverted index
    and (once label_counts exists) the per-language bias report each run
    as one Spark job that writes no shuffle bytes."""
    from ai_ready_data_framework_spark.checks import engine as E
    from ai_ready_data_framework_spark.io import load_tables

    ctx = E.CheckContext(
        spark=spark, sf_dir=sf_smoke, tables=load_tables(spark, sf_smoke)
    )
    for t, df in ctx.tables.items():
        assert E._whole_table(df)[1], t
    builds = [(t, lambda t=t: E.table_profile(ctx, t)) for t in ctx.tables]
    checks = [
        (key, lambda key=key: getattr(E, key)(ctx))
        for key in (
            "feature_refresh_compliance",
            "anonymization_effectiveness",
            "point_in_time_correctness",
            "search_optimization",
            "bias_testing_coverage",
        )
    ]
    for name, build in (
        builds + [("label_counts", lambda: E.label_counts(ctx))] + checks
    ):
        j0, s0 = _last_job(spark), _shuffle_written(spark)
        build()
        assert (_last_job(spark) - j0, _shuffle_written(spark) - s0) == (1, 0), name


def test_point_in_time_counts_leaks_in_one_aggregate(spark, monkeypatch):
    """The leak count is a count_if over the as-of join: a label with
    no earlier click (NULL fts) is no leak, a later click is one."""
    import datetime as dt

    from ai_ready_data_framework_spark.checks import engine as E

    ts = dt.datetime
    events = spark.createDataFrame(
        [
            (1, 1, ts(2024, 1, 1), "click"),
            (2, 1, ts(2024, 1, 2), "purchase"),
            (3, 2, ts(2024, 1, 1), "purchase"),
            (4, 2, ts(2024, 1, 3), "click"),
            (5, 3, ts(2024, 1, 5), "purchase"),
        ],
        "event_id bigint, user_id int, ts timestamp, event_type string",
    )
    ctx = E.CheckContext(spark=spark, sf_dir="", tables={"events": events})
    # users 2 and 3 have no click before their purchase
    assert E.point_in_time_correctness(ctx) == 1.0

    def leaky_join(labels, features, key, label_ts, feature_ts, feature_cols):
        # every click of the user, the later one included
        return labels.join(features, key, "left")

    monkeypatch.setattr(E, "as_of_join", leaky_join)
    # user 1 is clean, user 2's later click leaks, user 3 has no click
    assert E.point_in_time_correctness(ctx) == 2 / 3


def test_point_in_time_on_three_files_keeps_its_exchange(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """Events written as three Parquet files scan as three splits, so
    the as-of join keeps its exchange on the key and writes shuffle
    bytes; the score equals the one-file layout's."""
    from ai_ready_data_framework_spark.checks import engine as E
    from ai_ready_data_framework_spark.io import load_tables

    tables = load_tables(spark, sf_smoke)
    one_file = E.point_in_time_correctness(
        E.CheckContext(spark=spark, sf_dir=sf_smoke, tables=tables)
    )
    tables["events"].repartition(3).write.parquet(f"{tmp_path}/events")
    as_of_join, joins = E.as_of_join, []

    def recording_join(*args):
        joins.append(as_of_join(*args))
        return joins[-1]

    monkeypatch.setattr(E, "as_of_join", recording_join)
    # every file its own split, whatever the session's core count
    cost = "spark.sql.files.openCostInBytes"
    old_cost = spark.conf.get(cost)
    spark.conf.set(cost, str(128 << 20))
    try:
        tables["events"] = spark.read.parquet(f"{tmp_path}/events")
        assert tables["events"].rdd.getNumPartitions() == 3
        ctx = E.CheckContext(spark=spark, sf_dir=sf_smoke, tables=tables)
        s0 = _shuffle_written(spark)
        assert E.point_in_time_correctness(ctx) == one_file
        assert _shuffle_written(spark) > s0
        plan = joins[0]._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning(__k" in plan, plan
    finally:
        spark.conf.set(cost, old_cost)


def test_run_assessment_leaves_no_scratch_dir(spark, sf_smoke):
    """The checks that materialize tables write under the context's one
    scratch root, which run_assessment removes when it returns."""
    import os
    import tempfile

    def aird_entries() -> set[str]:
        return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith("aird_")}

    before = aird_entries()
    run_assessment(spark, sf_smoke, run_streaming=False)
    assert aird_entries() - before == set()


def test_run_assessment_leaves_no_persistent_rdd(spark, sf_smoke):
    """run_assessment leaves no persistent RDD behind. Counted after a
    Python and a JVM collection, polled while Spark's ContextCleaner
    releases unreferenced checkpoint blocks, so only RDDs something
    still holds (a cached frame in the CacheManager) remain."""
    import gc
    import time

    def persistent_rdds() -> int:
        gc.collect()
        spark.sparkContext._jvm.java.lang.System.gc()
        time.sleep(0.5)
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    before = persistent_rdds()
    run_assessment(spark, sf_smoke, run_streaming=False)
    for _ in range(10):
        after = persistent_rdds()
        if after <= before:
            break
    assert after <= before, (before, after)


def test_lineage_checks_follow_the_registries(monkeypatch):
    """The three lineage checks over a registry holding a 4-hop chain
    (src:a -> a1 -> a2 -> a3 -> a4), a cycle (src:b -> b1 <-> b2), an
    asset only an internal node reaches (x -> orphan) and an asset in
    no edge (lonely)."""
    from ai_ready_data_framework_spark.checks import engine as E
    from ai_ready_data_framework_spark.checks import registries as R

    edges = [
        ("src:a", "a1", "t"),
        ("a1", "a2", "t"),
        ("a2", "a3", "t"),
        ("a3", "a4", "t"),
        ("src:b", "b1", "t"),
        ("b1", "b2", "t"),
        ("b2", "b1", "t"),
        ("x", "orphan", "t"),
    ]
    assets = ("a1", "a2", "a3", "a4", "b1", "b2", "orphan", "lonely")
    monkeypatch.setattr(R, "LINEAGE_EDGES", edges)
    monkeypatch.setattr(R, "ASSETS", {a: {"kind": "fact"} for a in assets})
    ctx = E.CheckContext(spark=None, sf_dir="")  # type: ignore[arg-type]
    # reached: a1..a4 and b1, b2; orphan's only source is internal
    assert E.lineage_completeness(ctx) == 6 / 8
    # in some edge: every asset but lonely
    assert E.dependency_graph_completeness(ctx) == 7 / 8
    # every asset's downstream set is enumerable, terminal ones included
    assert E.impact_analysis_capability(ctx) == 1.0
    assert E._downstream({"a2"}) == {"a3", "a4"}
    assert E._downstream({"b1"}) == {"b1", "b2"}


def test_query_backed_checks_score_without_the_registry(
    spark, sf_smoke, monkeypatch
):
    """chunk_readiness and field_masking call their operators directly,
    so a bare CheckContext scores them whether or not the declared-query
    registry is loaded: with it emptied they score what they score with
    it loaded."""
    from ai_ready_data_framework_spark import registry
    from ai_ready_data_framework_spark.checks import engine as E
    from ai_ready_data_framework_spark.io import load_tables

    def scores() -> tuple[float, float]:
        ctx = E.CheckContext(
            spark=spark, sf_dir=sf_smoke, tables=load_tables(spark, sf_smoke)
        )
        try:
            return E.chunk_readiness(ctx), E.field_masking(ctx)
        finally:
            ctx.close()

    registry.load_all()
    loaded = scores()
    monkeypatch.setattr(registry, "QUERIES", {})
    assert scores() == loaded


def test_batch_throughput_runs_only_its_timed_scan(spark, sf_smoke):
    """Once the lineitem profile exists, the throughput check runs the
    jobs of its timed scan and nothing else: the row count comes from
    the profile."""
    from ai_ready_data_framework_spark.checks import engine as E
    from ai_ready_data_framework_spark.io import load_tables

    ctx = E.CheckContext(
        spark=spark, sf_dir=sf_smoke, tables=load_tables(spark, sf_smoke)
    )
    E.table_profile(ctx, "lineitem")
    j0 = _last_job(spark)
    ctx.table("lineitem").select(F.sum("l_quantity")).collect()
    j1 = _last_job(spark)
    assert 0.0 < E.batch_throughput_sufficiency(ctx) <= 1.0
    assert _last_job(spark) - j1 == j1 - j0


def test_clustered_tables_are_sorted_copies_without_shuffle(spark, sf_smoke):
    """Each large table's clustered copy holds exactly the table's rows,
    every file of it is sorted on the clustering key (the temporal
    column, else the primary key), and building the copies writes no
    shuffle bytes."""
    import glob

    from ai_ready_data_framework_spark.checks import engine as E
    from ai_ready_data_framework_spark.checks import registries as R
    from ai_ready_data_framework_spark.io import load_tables

    ctx = E.CheckContext(
        spark=spark, sf_dir=sf_smoke, tables=load_tables(spark, sf_smoke)
    )
    try:
        before = _shuffle_written(spark)
        assert E.clustered_tables(ctx) == {
            "orders",
            "lineitem",
            "events",
            "documents",
        }
        assert _shuffle_written(spark) == before
        for t in E.LARGE_TABLES:
            path = ctx.scratch(f"cluster/{t}")
            src = ctx.tables[t]
            copy = spark.read.parquet(path).select(*src.columns)
            assert copy.count() == src.count() > 0
            assert copy.exceptAll(src).count() == 0
            assert src.exceptAll(copy).count() == 0
            key = (R.TEMPORAL_SCOPE.get(t) or R.PRIMARY_KEYS[t]).split(",")
            files = glob.glob(f"{path}/*.parquet")
            assert files
            for f in files:
                assert _sorted_on(f, key), (t, f)
    finally:
        ctx.close()


def test_materializations_write_without_shuffle(spark, sf_smoke):
    """The feature store and the serving store are written with no
    exchange. The offline features equal the hourly aggregate over the
    uncoalesced events, the online copy equals the offline files with
    every file sorted on user_id, and the serving store holds exactly
    customer's rows, each under its own key bucket."""
    import glob

    from ai_ready_data_framework_spark.checks import engine as E
    from ai_ready_data_framework_spark.io import load_tables
    from ai_ready_data_framework_spark.streaming.parity import hourly_event_features

    ctx = E.CheckContext(
        spark=spark, sf_dir=sf_smoke, tables=load_tables(spark, sf_smoke)
    )

    def same_rows(a, b) -> bool:
        return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    try:
        before = _shuffle_written(spark)
        assert E.feature_materialization_coverage(ctx) == 1.0
        store = E.serving_store(ctx)
        assert _shuffle_written(spark) == before
        d = ctx.scratch("features")
        offline = spark.read.parquet(f"{d}/hourly_features")
        expected = hourly_event_features(ctx.table("events"))
        assert offline.count() == expected.count() > 0
        assert same_rows(offline, expected)
        online = spark.read.parquet(f"{d}/hourly_features_online")
        assert same_rows(online, offline)
        files = glob.glob(f"{d}/hourly_features_online/*.parquet")
        assert files
        for f in files:
            assert _sorted_on(f, ["user_id"]), f
        served = spark.read.parquet(store)
        customer = ctx.table("customer")
        assert same_rows(served.select(*customer.columns), customer)
        assert served.count() == customer.count() > 0
        misplaced = served.filter(
            F.col("c_custkey") % E.SERVING_KEY_BUCKETS != F.col("__kb")
        )
        assert misplaced.count() == 0
    finally:
        ctx.close()


@pytest.mark.parametrize("n_files", [1, 3], ids=["one_split", "three_files"])
def test_serving_probes_run_one_task_each(spark, sf_smoke, tmp_path, n_files):
    """Every ``__kb`` directory of the serving store holds one file, so
    every timed probe prunes to one directory and reads it as one split:
    one job of one task per probe. The timed probes are the check's
    last SERVING_PROBE_KEYS jobs. With three files, each a contiguous
    c_custkey range spanning every bucket, the three scan tasks would
    each leave a file in every bucket unless the write gathers each
    bucket into one task."""
    import glob

    from ai_ready_data_framework_spark.checks import engine as E
    from ai_ready_data_framework_spark.io import load_tables

    tables = load_tables(spark, sf_smoke)
    ctx = E.CheckContext(spark=spark, sf_dir=sf_smoke, tables=tables)
    tracker = spark.sparkContext.statusTracker()
    # every file its own split, whatever the session's core count
    cost = "spark.sql.files.openCostInBytes"
    old_cost = spark.conf.get(cost)
    spark.conf.set(cost, str(128 << 20))
    try:
        if n_files > 1:
            rows = tables["customer"].orderBy("c_custkey").collect()
            for i in range(n_files):
                lo, hi = len(rows) * i // n_files, len(rows) * (i + 1) // n_files
                part = spark.createDataFrame(rows[lo:hi], tables["customer"].schema)
                part.coalesce(1).write.mode("append").parquet(f"{tmp_path}/customer")
            tables["customer"] = spark.read.parquet(f"{tmp_path}/customer")
        assert ctx.table("customer").rdd.getNumPartitions() == n_files
        store = E.serving_store(ctx)
        buckets = glob.glob(f"{store}/__kb=*")
        assert len(buckets) == E.SERVING_KEY_BUCKETS
        for b in buckets:
            assert len(glob.glob(f"{b}/*.parquet")) == 1, b
        j0 = _last_job(spark)
        E.serving_latency_compliance(ctx)
        last = _last_job(spark)
        assert last - j0 > E.SERVING_PROBE_KEYS
        jobs = range(last - E.SERVING_PROBE_KEYS + 1, last + 1)
        for j in jobs:
            stages = tracker.getJobInfo(j).stageIds
            assert len(stages) == 1, j
            assert tracker.getStageInfo(stages[0]).numTasks == 1, j
    finally:
        spark.conf.set(cost, old_cost)
        ctx.close()


def test_run_assessment_builds_shared_materializations_once(
    spark, sf_smoke, scratch_names
):
    """A default run writes the serving store exactly once, and each
    clustered copy once (the training run's side is in
    test_workload_filter_runs_subset)."""
    from ai_ready_data_framework_spark.checks.engine import LARGE_TABLES

    run_assessment(spark, sf_smoke, run_streaming=False)
    assert scratch_names.count("serving_store") == 1
    assert sorted(n for n in scratch_names if n.startswith("cluster/")) == sorted(
        f"cluster/{t}" for t in LARGE_TABLES
    )
