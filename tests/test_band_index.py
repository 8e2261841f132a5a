"""Persisted LSH band index (sources/maintenance.py::write_band_index):
round-trip identity with the inline rebuild, exchange-free index-side
probe plan, and file-pruned point lookups."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ai_ready_data_framework_spark.functions import text as T
from ai_ready_data_framework_spark.operators import ai
from ai_ready_data_framework_spark.registry import QUERIES
from ai_ready_data_framework_spark.sources.maintenance import (
    read_band_index,
    write_band_index,
)


@pytest.fixture()
def persisted_index(spark, sf_correctness, tmp_path):
    sh = ai._doc_shingles(spark, sf_correctness)
    sig = T.minhash_signatures(sh, "doc_id", "s")
    bands = T.minhash_bands(sig, "doc_id")
    name = "band_index_test"
    write_band_index(bands, name, str(tmp_path / "band_index"))
    yield read_band_index(spark, name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_persisted_probe_equals_inline_rebuild(spark, sf_correctness, persisted_index):
    """Probing the PERSISTED index must yield exactly the pair set the
    inline rebuild (q_dedup_incremental) computes — the index is a
    materialization, never a semantic change."""
    inline = {
        tuple(r)
        for r in QUERIES["q_dedup_incremental"](spark, sf_correctness).collect()
    }
    probed = {
        tuple(r)
        for r in ai.incremental_band_probe(
            persisted_index, ai.INCR_BATCH_MOD
        ).collect()
    }
    assert probed == inline
    assert probed, "fixture corpus contains near-dup pairs"


def test_persisted_probe_index_side_needs_no_exchange(
    spark, sf_correctness, persisted_index
):
    """The point of the bucketed layout: the corpus-sized index side
    joins on its bucket partitioning — the ONLY hash exchange left in
    the probe plan is the final pair dropDuplicates, never a reshuffle
    of the index."""
    df = ai.incremental_band_probe(persisted_index, ai.INCR_BATCH_MOD)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    plan = plan.split("== Initial Plan ==")[0]
    assert "Bucketed: true" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_signature_lookup_exchanges_past_broadcast_threshold(
    spark, sf_correctness, persisted_index
):
    """The candidate pairs fetch their signatures from the band-0
    postings by doc_id. Below the broadcast threshold that is a
    broadcast of every band-0 row; with broadcasts off, the lookup
    adds exactly three hash exchanges: the candidates by new_doc, the
    candidates by other_doc, and ONE shuffle of every band-0 row with
    its signature, reused by both lookups. The (band, bk) side still
    joins on its buckets."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = ai.incremental_band_probe(persisted_index, ai.INCR_BATCH_MOD)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    finally:
        spark.conf.set(key, old)
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    assert "BroadcastExchange" not in "\n".join(lines)
    assert any("Bucketed: true" in ln for ln in lines)
    exchanges = [
        (ln, lines[i + 1])
        for i, ln in enumerate(lines)
        if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
    ]
    keys = sorted(ln.split("hashpartitioning(")[1].split(",")[0] for ln, _ in exchanges)
    assert [k.split("#")[0] for k in keys] == [
        "new_doc", "new_doc", "new_doc", "other_doc"
    ], exchanges
    # the pair dedup's exchange is keyed (new_doc, other_doc); of the
    # three single-key ones exactly one reads the index (its doc_id and
    # __sig), the other two move candidate pairs
    index_side = [child for _, child in exchanges if "doc_id" in child]
    assert len(index_side) == 1 and "__sig#" in index_side[0], exchanges
    reused = [ln for ln in lines if "ReusedExchange" in ln]
    assert len(reused) == 1 and "__sig_b" in reused[0], reused


def test_point_probe_prunes_files(spark, persisted_index):
    """A (band, bk) point lookup must push both predicates to the scan
    (sorted buckets keep parquet min/max stats tight)."""
    one = persisted_index.select("band", "bk").first()
    probe = persisted_index.filter(
        (F.col("band") == one.band) & (F.col("bk") == one.bk)
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "PushedFilters: [" in plan, plan
    assert "EqualTo(band" in plan and "EqualTo(bk" in plan, plan
    assert probe.count() >= 1
