"""Streaming IVF-index ingestion (r9): epoch-keyed delta landing,
replay idempotence, probe coverage over base ∪ deltas, drift-gated
refit signal, and delta compaction back to the exchange-free bucketed
base — the band-index streaming contract applied to ANN."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.operators import ai
from ai_ready_data_framework_spark.sources import maintenance as M
from ai_ready_data_framework_spark.sources.maintenance import (
    IVF_INDEX_BUCKETS,
    write_ivf_index,
)
from ai_ready_data_framework_spark.streaming import ivf as SI


@pytest.fixture()
def ivf_stream_env(spark, sf_correctness, tmp_path):
    assigned, centroids = ai.ivf_fit_assign(spark, sf_correctness)
    name = "ivf_stream_test"
    write_ivf_index(assigned, centroids, name, str(tmp_path / "ivf"))
    yield name, centroids, assigned, tmp_path
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def _batch(assigned, gen: int):
    """Clones of existing vectors under fresh ids — identical
    embeddings must land in identical cells (pure argmin). mod 3, not
    a thinner slice: PSI's small-sample noise scales like
    (cells−1)/n_batch, and measured values on this 500-vector fixture
    are 0.05 at n=167 vs 0.22 at n=46 — a sub-50-row batch trips the
    0.2 refit bar on noise alone (the caveat ivf_refit_needed
    documents)."""
    return assigned.filter(F.col("vec_id") % 3 == gen).select(
        (F.col("vec_id") + 1_000_000 * (gen + 1)).alias("vec_id"),
        "embedding",
    )


def test_stream_ingest_probe_replay_and_drift_log(
    spark, sf_correctness, ivf_stream_env, tmp_path
):
    name, centroids, assigned, _ = ivf_stream_env
    stream_dir = str(tmp_path / "drops")
    delta_dir = str(tmp_path / "deltas")
    drift_dir = str(tmp_path / "drift")
    n_base = spark.table(name).count()
    n_batches = 0
    for gen in range(3):
        b = _batch(assigned, gen)
        n_batches += b.count()
        b.coalesce(1).write.mode("append").parquet(stream_dir)
    SI.run_ivf_ingest_stream(
        spark,
        stream_dir,
        centroids,
        name,
        delta_dir,
        str(tmp_path / "ckpt"),
        drift_log_dir=drift_dir,
    )
    view = SI.indexed_vectors(spark, name, delta_dir)
    assert view.count() == n_base + n_batches
    # clones landed in their originals' cells (frozen quantizer)
    orig = {
        r.vec_id: r.cell
        for r in assigned.filter(F.col("vec_id") % 3 == 0).collect()
    }
    got = {
        r.vec_id - 1_000_000: r.cell
        for r in view.filter(
            (F.col("vec_id") >= 1_000_000) & (F.col("vec_id") < 2_000_000)
        ).collect()
    }
    assert got == orig and got
    # probing the live view surfaces a clone as its original's top hit
    queries = assigned.filter(F.col("vec_id") < ai.IVF_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    res = ai.ivf_probe(view, centroids, queries)
    top = {(r.q_id, r.vec_id) for r in res.filter(F.col("rk") == 1).collect()}
    clone_q = [q for q in range(ai.IVF_N_QUERIES) if q % 3 == 0]
    assert clone_q, "fixture must clone at least one query vector"
    for q in clone_q:
        assert (q, q + 1_000_000) in top, top
    # drift log: one row per epoch, no refit on same-distribution data
    drift = spark.read.parquet(drift_dir)
    rows = {r.epoch: r for r in drift.collect()}
    assert len(rows) == 3
    assert not any(r.refit_needed for r in rows.values()), rows
    # replay safety: re-running an epoch overwrites, never doubles
    n_delta = spark.read.parquet(delta_dir).count()
    SI.ingest_epoch(
        spark, _batch(assigned, 0), centroids, name, delta_dir, 0,
        drift_log_dir=drift_dir,
    )
    assert spark.read.parquet(delta_dir).count() == n_delta
    assert spark.read.parquet(drift_dir).count() == 3


def test_compact_deltas_restores_exchange_free_base(
    spark, sf_correctness, ivf_stream_env, tmp_path
):
    name, centroids, assigned, _ = ivf_stream_env
    delta_dir = str(tmp_path / "deltas")
    vec_dir = str(tmp_path / "ivf" / "vectors")
    for gen in range(3):
        SI.ingest_epoch(
            spark, _batch(assigned, gen), centroids, name, delta_dir, gen
        )
    queries = assigned.filter(F.col("vec_id") < ai.IVF_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    merged = SI.indexed_vectors(spark, name, delta_dir)
    n_merged = merged.count()
    before = {
        tuple(r) for r in ai.ivf_probe(merged, centroids, queries).collect()
    }
    SI.compact_ivf_index_deltas(spark, name, str(tmp_path / "ivf"), delta_dir)
    spark.catalog.refreshTable(name)
    # row conservation + delta log gone + one file set per bucket
    assert M.index_view(spark, name).count() == n_merged
    assert M.read_epoch_deltas(spark, delta_dir) is None
    assert len(glob.glob(f"{vec_dir}/*.parquet")) <= IVF_INDEX_BUCKETS
    # probe identity over the compacted base (queries re-derived: the
    # pre-compaction frame's file listing is gone by design)
    compacted = M.index_view(spark, name)
    queries2 = compacted.filter(F.col("vec_id") < ai.IVF_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    df = ai.ivf_probe(compacted, centroids, queries2)
    after = {tuple(r) for r in df.collect()}
    assert after == before and after
    # the exchange-free plan pin holds on the compacted table
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    plan = plan.split("== Initial Plan ==")[0]
    assert "Bucketed: true" in plan, plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "vec_id" not in ln, ln


def test_drift_signal_fires_on_shifted_stream(
    spark, sf_correctness, ivf_stream_env, tmp_path
):
    name, centroids, assigned, _ = ivf_stream_env
    delta_dir = str(tmp_path / "deltas")
    drift_dir = str(tmp_path / "drift")
    shifted = _batch(assigned, 0).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x + F.lit(25.0)
        ).alias("embedding"),
    )
    SI.ingest_epoch(
        spark, shifted, centroids, name, delta_dir, 0, drift_log_dir=drift_dir
    )
    rec = spark.read.parquet(drift_dir).collect()[0]
    assert rec.refit_needed and rec.cell_psi > 0.2, rec


def test_maintain_ivf_index_plans_refit_compact_none(
    spark, sf_correctness, ivf_stream_env, tmp_path
):
    """The one-call maintenance planner (r10): a drift-flagged pending
    epoch triggers the full refit (which folds the deltas); pending
    epochs below the compaction threshold do nothing; reaching it
    compacts. Folded epochs never re-trigger (idempotent re-runs)."""
    import glob as _glob

    name, centroids, assigned, _ = ivf_stream_env
    delta_dir = str(tmp_path / "deltas")
    drift_dir = str(tmp_path / "drift")

    # 1) same-distribution epoch -> below threshold -> none
    SI.ingest_epoch(
        spark, _batch(assigned, 0), centroids, name, delta_dir, 0,
        drift_log_dir=drift_dir,
    )
    rep = SI.maintain_ivf_index(
        spark, name, str(tmp_path / "ivf"), delta_dir,
        drift_log_dir=drift_dir, compact_after=4,
    )
    assert rep["action"] == "none" and rep["pending_epochs"] == [0]

    # 2) same-distribution epochs reach the threshold -> compact
    for e in range(1, 4):
        SI.ingest_epoch(
            spark, _batch(assigned, e % 3), centroids, name, delta_dir, e,
            drift_log_dir=drift_dir,
        )
    rep = SI.maintain_ivf_index(
        spark, name, str(tmp_path / "ivf"), delta_dir,
        drift_log_dir=drift_dir, compact_after=4,
    )
    assert rep["action"] == "compact" and rep["folded_epochs"] == [0, 1, 2, 3]
    assert not _glob.glob(f"{delta_dir}/epoch=*")
    spark.catalog.refreshTable(name)

    # 3) displaced epoch -> drift record fires -> the planner refits
    from pyspark.sql import functions as F

    shifted = assigned.select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x + F.lit(25.0)
        ).cast("array<float>").alias("embedding"),
    ).filter(F.col("vec_id") % 3 == 0)
    SI.ingest_epoch(
        spark, shifted, centroids, name, delta_dir, 4,
        drift_log_dir=drift_dir,
    )
    drift = spark.read.parquet(drift_dir)
    assert drift.filter((F.col("epoch") == 4) & F.col("refit_needed")).count() == 1
    n_all = SI.indexed_vectors(spark, name, delta_dir).count()
    rep = SI.maintain_ivf_index(
        spark, name, str(tmp_path / "ivf"), delta_dir,
        drift_log_dir=drift_dir, compact_after=4,
    )
    assert rep["action"] == "refit"
    assert rep["rows"] == n_all
    spark.catalog.refreshTable(name)
    assert spark.table(name).count() == n_all
    assert not _glob.glob(f"{delta_dir}/epoch=*")
    # 4) re-run converges: nothing pending, nothing re-triggered
    rep = SI.maintain_ivf_index(
        spark, name, str(tmp_path / "ivf"), delta_dir,
        drift_log_dir=drift_dir, compact_after=4,
    )
    assert rep["action"] == "none" and rep["pending_epochs"] == []
