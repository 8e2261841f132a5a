"""Persisted IVF vector index (r8): probe-vs-inline identity,
exchange-free index-side probe plan, and cell-pruned point lookups —
the band-index contract applied to ANN."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.operators import ai
from ai_ready_data_framework_spark.registry import QUERIES
from ai_ready_data_framework_spark.sources.maintenance import (
    read_ivf_index,
    write_ivf_index,
)


@pytest.fixture()
def persisted_ivf(spark, sf_correctness, tmp_path):
    assigned, centroids = ai.ivf_fit_assign(spark, sf_correctness)
    name = "ivf_index_test"
    write_ivf_index(assigned, centroids, name, str(tmp_path / "ivf"))
    yield read_ivf_index(spark, name, str(tmp_path / "ivf"))
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_persisted_probe_equals_inline_query(spark, sf_correctness, persisted_ivf):
    """Probing the PERSISTED index (no KMeans refit) must return
    exactly what the inline q_vector_ann_ivf computes: the fit is
    deterministic (seed 42, hash sample), so the written assignments
    equal the inline ones and the probe is a pure materialization."""
    index, centroids = persisted_ivf
    queries = index.filter(F.col("vec_id") < ai.IVF_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    probed = {
        tuple(r) for r in ai.ivf_probe(index, centroids, queries).collect()
    }
    inline = {
        tuple(r)
        for r in QUERIES["q_vector_ann_ivf"](spark, sf_correctness).collect()
    }
    assert probed == inline and probed


def test_persisted_probe_index_side_needs_no_exchange(
    spark, sf_correctness, persisted_ivf
):
    """The point of the cell-bucketed layout: the corpus-sized vector
    side joins on its bucket partitioning — no hash exchange may carry
    the embedding column; the only shuffles left are the probes-sized
    alignment and the per-query top-k window."""
    index, centroids = persisted_ivf
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
            assert "q_id" in ln or "q_emb" in ln or "cell" not in ln, ln
            # the index side's (vec_id, embedding, cell) rows must not
            # reshuffle: any cell-keyed exchange may only carry probe
            # columns
            assert "vec_id" not in ln, ln


def test_point_cell_probe_prunes(spark, persisted_ivf):
    """A single-cell lookup must push the predicate to the bucketed
    scan (sorted buckets keep parquet min/max stats tight)."""
    index, _ = persisted_ivf
    one = index.select("cell").first()
    probe = index.filter(F.col("cell") == one.cell)
    plan = probe._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "PushedFilters: [" in plan, plan
    assert "EqualTo(cell" in plan, plan
    assert probe.count() >= 1


def test_assign_cells_matches_kmeans_transform(spark, sf_correctness):
    """The DataFrame nearest-centroid assignment (squared-Euclidean
    argmin, cell tie-break) must reproduce KMeans.transform exactly on
    the fixture — the property that lets ingestion run from the SAVED
    centroid table with no model object."""
    from ai_ready_data_framework_spark.sources.maintenance import assign_cells

    assigned, centroids = ai.ivf_fit_assign(spark, sf_correctness)
    model_cells = {r.vec_id: r.cell for r in assigned.collect()}
    df_cells = {
        r.vec_id: r.cell
        for r in assign_cells(
            assigned.select("vec_id", "embedding"), centroids
        ).collect()
    }
    assert df_cells == model_cells and df_cells


def test_assign_cells_plan_is_aggregate_not_window(spark, sf_correctness):
    """VERDICT r8 #4: the ingestion-path argmin must run as a
    map-side-combinable min_by AGGREGATE — no WindowExec (keyed
    exchange + per-vector sort of #cells rows) may appear in the
    assignment plan that runs per batch forever."""
    from ai_ready_data_framework_spark.sources.maintenance import assign_cells

    assigned, centroids = ai.ivf_fit_assign(spark, sf_correctness)
    df = assign_cells(assigned.select("vec_id", "embedding"), centroids)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Window" not in plan, plan
    # map-side combine proof: the partial min_by must sit BELOW the
    # exchange, so the shuffle carries one row per (vec_id, partition)
    # instead of #cells candidate rows per vector
    pre, _, post = plan.partition("Exchange hashpartitioning(vec_id")
    assert post, plan  # the one keyed exchange
    assert "partial_min_by" in post, plan


def test_ivf_refit_gate_fires_on_shift_only(spark, sf_correctness, persisted_ivf):
    """VERDICT r8 #3: a batch drawn from the index's own distribution
    must NOT trigger a refit; a displaced batch (every embedding
    shifted far off the fitted clusters, collapsing cell occupancy)
    must."""
    from ai_ready_data_framework_spark.sources.maintenance import (
        assign_cells,
        ivf_refit_needed,
    )

    index, centroids = persisted_ivf
    same = index.filter(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    refit_same, psi_same = ivf_refit_needed(
        index, assign_cells(same, centroids), centroids
    )
    assert not refit_same, psi_same

    shifted = same.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x + F.lit(25.0)
        ).alias("embedding"),
    )
    refit_shift, psi_shift = ivf_refit_needed(
        index, assign_cells(shifted, centroids), centroids
    )
    assert refit_shift, psi_shift
    assert psi_shift > psi_same >= 0.0
