"""IVF refit loop + crash-safe generation publish (r10 — VERDICT r9
#2 and ADVICE r9): the drift signal is now ACTIONABLE end-to-end
(signal fires → refit_ivf_index fits/stages/verifies/swaps → signal
quiets and recall recovers), and the compaction/publish protocol is
crash-idempotent (a crash between the catalog swap and the delta-log
delete can no longer double rows; the swap window recovers from the
staged manifest)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.operators import ai
from ai_ready_data_framework_spark.sources import maintenance as M
from ai_ready_data_framework_spark.streaming import ivf as SI
from ai_ready_data_framework_spark.streaming import lifecycle as L


@pytest.fixture()
def refit_env(spark, sf_correctness, tmp_path):
    assigned, centroids = ai.ivf_fit_assign(spark, sf_correctness)
    name = "ivf_refit_test"
    M.write_ivf_index(assigned, centroids, name, str(tmp_path / "ivf"))
    yield name, str(tmp_path / "ivf"), assigned, centroids
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"DROP TABLE IF EXISTS {name}__staging")


def _displaced(assigned, keep_mod: int = 2):
    """Half the corpus, every dimension shifted +25 under fresh ids —
    a far, compact cluster the fitted quantizer has no cells for (the
    same displacement that drives test_ivf_refit_gate_fires_on_shift
    _only), cast back to the index's array<float> storage type."""
    return assigned.filter(F.col("vec_id") % keep_mod == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x + F.lit(25.0)
        ).cast("array<float>").alias("embedding"),
    )


def _mixed_batch(spark, name, delta_dir):
    """A batch drawn from the index's CURRENT overall distribution
    (every 3rd vector of base ∪ deltas) — what steady-state ingest
    looks like after the world shifted: pre-refit its displaced third
    collapses into cells the old quantizer never fit, post-refit it
    mirrors the new index occupancy."""
    return SI.indexed_vectors(spark, name, delta_dir).filter(
        F.col("vec_id") % 3 == 0
    ).select("vec_id", "embedding")


def test_refit_closes_the_drift_loop(spark, sf_correctness, refit_env, tmp_path):
    """signal fires → refit runs → signal quiet, recall recovered:
    the end-to-end contract of requirements.yaml:66-68 (a MAINTAINED
    vector index) + 82-84 (recall compliance)."""
    name, path, assigned, centroids = refit_env
    delta_dir = str(tmp_path / "deltas")
    displaced = _displaced(assigned)
    # land the displaced world as two ingest epochs
    for e, gen in enumerate([0, 1]):
        SI.ingest_epoch(
            spark,
            displaced.filter(F.col("vec_id") % 2 == gen),
            centroids,
            name,
            delta_dir,
            epoch_id=e,
        )
    n_all = SI.indexed_vectors(spark, name, delta_dir).count()
    assert n_all > spark.table(name).count()

    # 1) the gate FIRES on a mixed steady-state batch vs the stale index
    batch = _mixed_batch(spark, name, delta_dir)
    fired, psi_pre = M.ivf_refit_needed(
        spark.table(name), M.assign_cells(batch, centroids), centroids
    )
    assert fired, psi_pre

    # 2) refit: fixed query batch = displaced vectors, whose true
    # neighbors (other displaced vectors) exist only in the deltas —
    # the stale index CANNOT return them, so recall_pre is the honest
    # degraded number the drift record warned about
    queries = displaced.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    assert 0 < queries.count() <= 8
    report = M.refit_ivf_index(
        spark, name, path, delta_dir=delta_dir, queries=queries
    )
    # row conservation + the degraded→recovered recall arc
    assert report["rows"] == n_all
    spark.catalog.refreshTable(name)
    assert spark.table(name).count() == n_all
    assert report["recall_pre"] < 0.2, report
    assert report["recall_post"] > 0.8, report
    # the folded delta partitions are gone — the index IS the corpus
    assert report["folded_epochs"] == [0, 1]
    assert not glob.glob(f"{delta_dir}/epoch=*")

    # 3) the gate is QUIET on the same steady-state mixture vs the
    # refit index (batch re-assigned under the SWAPPED quantizer)
    new_index, new_centroids = M.read_ivf_index(spark, name, path)
    batch_post = spark.table(name).filter(F.col("vec_id") % 3 == 0).select(
        "vec_id", "embedding"
    )
    fired_post, psi_post = M.ivf_refit_needed(
        new_index, M.assign_cells(batch_post, new_centroids), new_centroids
    )
    assert not fired_post, (psi_pre, psi_post)
    assert psi_post < psi_pre

    # 4) centroids swapped atomically with the assignments: the
    # manifest points at the generation-stamped quantizer and probing
    # the refit index keeps the exchange-free bucketed plan
    assert M.table_properties(spark, name)[
        "idx.centroids_path"
    ].endswith("centroids_gen1")
    df = ai.ivf_probe(new_index, new_centroids, queries)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    plan = plan.split("== Initial Plan ==")[0]
    assert "Bucketed: true" in plan, plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "vec_id" not in ln, ln


def test_compaction_is_crash_idempotent(
    spark, sf_correctness, refit_env, tmp_path, monkeypatch
):
    """ADVICE r9: kill the process between the compaction publish and
    the delta-log delete — the folded epochs' files are still on disk,
    but the manifest (swapped atomically with the folded base) makes
    every reader skip them: no row is ever counted twice, and
    re-running compaction converges instead of re-folding."""
    name, path, assigned, centroids = refit_env
    delta_dir = str(tmp_path / "deltas")
    extra = _displaced(assigned, keep_mod=5)
    SI.ingest_epoch(spark, extra, centroids, name, delta_dir, epoch_id=0)
    n_all = SI.indexed_vectors(spark, name, delta_dir).count()

    # simulated crash: the cleanup half never runs
    monkeypatch.setattr(L, "_fs_delete", lambda *_: None)
    SI.compact_ivf_index_deltas(spark, name, path, delta_dir)
    monkeypatch.undo()
    assert glob.glob(f"{delta_dir}/epoch=*")  # leftovers ARE on disk
    assert M.folded_epochs_of(spark, name) == {0}
    spark.catalog.refreshTable(name)
    # no doubling: base ∪ runs hold everything, the leftover delta is skipped
    assert M.index_view(spark, name).count() == n_all
    assert SI.indexed_vectors(spark, name, delta_dir).count() == n_all

    # recovery run: deletes the leftovers without re-folding them
    SI.compact_ivf_index_deltas(spark, name, path, delta_dir)
    assert not glob.glob(f"{delta_dir}/epoch=*")
    spark.catalog.refreshTable(name)
    assert M.index_view(spark, name).count() == n_all


def test_failed_audit_keeps_live_generation(spark, sf_correctness, refit_env):
    """A rejected staging must leave the serving index untouched —
    the write-audit-publish contract applied to the index artifact."""
    name, path, assigned, _ = refit_env
    n0 = spark.table(name).count()
    with pytest.raises(M.AuditFailure):
        M.publish_ivf_generation(
            spark,
            spark.table(name).limit(10),
            name,
            path,
            audits={"row_conservation": lambda staged: staged.count() == n0},
        )
    spark.catalog.refreshTable(name)
    assert spark.table(name).count() == n0  # still generation 0
    assert M._generation_of(spark, name) == 0


def test_recover_ivf_table_reissues_create(spark, sf_correctness, refit_env):
    """The one remaining (loud) crash window — between DROP and CREATE
    in the catalog swap — recovers from the manifest json staged
    alongside the generation's data files."""
    name, path, assigned, _ = refit_env
    n0 = spark.table(name).count()
    M.publish_ivf_generation(spark, spark.table(name), name, path)
    spark.catalog.refreshTable(name)
    assert spark.table(name).count() == n0
    spark.sql(f"DROP TABLE {name}")  # the crash leaves exactly this state
    M.recover_ivf_table(spark, path)
    assert spark.table(name).count() == n0
    assert M._generation_of(spark, name) == 1
    # bucket metadata survived the recovery (declarative CLUSTERED BY):
    # the real probe still reads the index bucketed, exchange-free
    index, centroids = M.read_ivf_index(spark, path=path, table_name=name)
    queries = index.filter(F.col("vec_id") < ai.IVF_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    df = ai.ivf_probe(index, centroids, queries)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    plan = plan.split("== Initial Plan ==")[0]
    assert "Bucketed: true" in plan, plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "vec_id" not in ln, ln


def test_compaction_preserves_centroids_pointer_and_fold_manifest(
    spark, refit_env, tmp_path, monkeypatch
):
    """Code-review r13: a ROUTINE compaction after a refit must not
    drop idx.centroids_path — read_ivf_index would silently fall back
    to the stale build-time quantizer while serving refit cell
    assignments, collapsing recall with no error — nor lose the
    folded-epoch manifest. idx.* side-artifact props carry over through
    publish_bucketed_generation by default, for every publish that does
    not explicitly replace them, and either compaction tier records
    the epochs it folded."""
    name, path, assigned, centroids = refit_env
    delta_dir = str(tmp_path / "deltas")
    SI.ingest_epoch(
        spark, _displaced(assigned), centroids, name, delta_dir, epoch_id=0
    )
    M.refit_ivf_index(spark, name, path, delta_dir=delta_dir)
    props = M.table_properties(spark, name)
    cen_path = props["idx.centroids_path"]
    assert "centroids_gen" in cen_path
    assert M.folded_epochs_of(spark, name) == {0}
    refit_cen = {
        (r.cell, tuple(r.centroid)) for r in
        spark.read.parquet(cen_path).collect()
    }

    # a merge into a new base generation (passes no pointer) keeps it
    new_cen = spark.read.parquet(cen_path)
    gen = M._generation_of(spark, name)
    monkeypatch.setattr(L, "MERGE_RATIO", 0)
    SI.ingest_epoch(
        spark,
        _displaced(assigned, keep_mod=4),
        new_cen,
        name,
        delta_dir,
        epoch_id=1,
    )
    assert SI.compact_ivf_index_deltas(spark, name, path, delta_dir) == [1]
    spark.catalog.refreshTable(name)
    assert M._generation_of(spark, name) == gen + 1
    assert M.table_properties(spark, name)["idx.centroids_path"] == cen_path
    assert M.folded_epochs_of(spark, name) == {1}
    _, resolved = M.read_ivf_index(spark, name, path)
    assert {
        (r.cell, tuple(r.centroid)) for r in resolved.collect()
    } == refit_cen

    # a run publish (one ALTER TABLE) keeps the pointer too
    monkeypatch.undo()
    SI.ingest_epoch(
        spark,
        _displaced(assigned, keep_mod=8),
        new_cen,
        name,
        delta_dir,
        epoch_id=2,
    )
    SI.compact_ivf_index_deltas(spark, name, path, delta_dir)
    spark.catalog.refreshTable(name)
    assert M.runs_of(spark, name)
    assert M.table_properties(spark, name)["idx.centroids_path"] == cen_path


def test_refit_does_not_fold_epochs_landed_mid_run(
    spark, refit_env, tmp_path, monkeypatch
):
    """Code-review r13 (TOCTOU): an ingest epoch that lands AFTER the
    refit pinned its delta listing must be neither marked folded nor
    deleted — its rows are not in the new generation, so folding it
    would permanently lose them on the next cleanup."""
    import os

    name, path, assigned, centroids = refit_env
    delta_dir = str(tmp_path / "deltas")
    SI.ingest_epoch(
        spark, _displaced(assigned), centroids, name, delta_dir, epoch_id=0
    )

    real = M._delta_epochs_present
    state = {"landed": False}

    def racy(spark_, d):
        out = real(spark_, d)
        if not state["landed"]:
            state["landed"] = True
            # simulate ingest racing the refit: epoch 1 lands right
            # after the listing is taken
            SI.ingest_epoch(
                spark,
                _displaced(assigned, keep_mod=4),
                centroids,
                name,
                delta_dir,
                epoch_id=1,
            )
        return out

    monkeypatch.setattr(M, "_delta_epochs_present", racy)
    rep = M.refit_ivf_index(spark, name, path, delta_dir=delta_dir)
    assert rep["folded_epochs"] == [0]  # only the pinned epoch
    assert os.path.isdir(f"{delta_dir}/epoch=1")  # the racer survived
    assert M.folded_epochs_of(spark, name) == {0}


def test_refit_reads_runs_and_leaves_none(spark, refit_env, tmp_path):
    """With a run published and a later epoch still unfolded, the refit
    fits and reassigns base ∪ runs ∪ deltas: every row survives once,
    the new generation lists no run, and the run's table and dir are
    gone."""
    name, path, assigned, centroids = refit_env
    delta_dir = str(tmp_path / "deltas")
    try:
        SI.ingest_epoch(
            spark, _displaced(assigned, keep_mod=5), centroids, name,
            delta_dir, epoch_id=0,
        )
        SI.compact_ivf_index_deltas(spark, name, path, delta_dir)
        assert M.runs_of(spark, name) == [1]
        SI.ingest_epoch(
            spark, _displaced(assigned, keep_mod=7), centroids, name,
            delta_dir, epoch_id=1,
        )
        ids_all = sorted(
            r.vec_id
            for r in SI.indexed_vectors(spark, name, delta_dir)
            .select("vec_id")
            .collect()
        )
        assert len(ids_all) > M.index_view(spark, name).count() > (
            spark.table(name).count()
        )

        rep = M.refit_ivf_index(spark, name, path, delta_dir=delta_dir)
        assert rep["rows"] == len(ids_all)
        assert rep["folded_epochs"] == [1]  # epoch 0 is in the run
        assert M.runs_of(spark, name) == []
        assert not glob.glob(f"{path}/vectors_run*")
        assert not spark.catalog.tableExists(f"{name}__run1")
        assert sorted(
            r.vec_id
            for r in SI.indexed_vectors(spark, name, delta_dir)
            .select("vec_id")
            .collect()
        ) == ids_all
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}__run1")
