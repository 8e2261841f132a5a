"""Streaming incremental near-dedup: micro-batches of new documents
probe the PERSISTED LSH band index, emit their near-dup pairs, then
fold their own bands into the index — the always-on ingestion form of
q_dedup_incremental (operators/ai.py).

Grounding: the reference's Factor 3 mandates stream-incremental
propagation ("Streams propagate changes incrementally",
/root/reference/factors/3-current.md:13) and the north star makes
near-dedup a first-class pipeline stage; this module is where the two
meet. Per micro-batch the work is (batch bands) ⋈ (index), so steady-
state cost scales with ingest rate, never corpus size — the property
that keeps a 100 TB corpus's dedup always-on instead of nightly.

Replay safety and compaction are the shared epoch-delta lifecycle
(streaming/lifecycle.py): pairs land in ``pairs_out/epoch=N`` and the
batch's bands in ``delta_dir/epoch=N``, both idempotent overwrites.
For this index a double-appended band delta would inflate (band, bk)
bucket counts forever — emitting duplicate pairs AND potentially
pushing buckets over the hot cap.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.functions.cache import stage_pin
from ai_ready_data_framework_spark.functions import text as T
from ai_ready_data_framework_spark.operators.ai import (
    SHINGLE_K,
    incremental_band_probe,
)
from ai_ready_data_framework_spark.sources.maintenance import (  # noqa: F401
    BAND_INDEX,
    read_band_index,  # re-exported: the band index's build/read pair
    write_band_index,
)
from ai_ready_data_framework_spark.streaming.lifecycle import (
    compact,
    forget,
    maintain,
    probe_view,
    run_stream,
    write_epoch,
)

# Mirrors the documents table's declared schema (FIXTURES.md) — the
# stream source cannot infer, so it is restated here by contract.
DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def doc_bands(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, __sig, band, bk) band postings — the same
    shingle -> minhash -> band derivation the batch operators use, so
    stream and batch can never drift."""
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(T.shingles(T.tokens("text"), SHINGLE_K))
        ).alias("s"),
    )
    return T.minhash_bands(T.minhash_signatures(sh, "doc_id", "s"), "doc_id")


def probe_and_fold(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_table: str,
    delta_dir: str,
    pairs_out: str,
    epoch_id: int,
) -> None:
    """One micro-batch step: probe (base index ∪ earlier deltas) with
    the batch (index rows __new=False, batch rows True — within-batch
    dups pair too), overwrite this epoch's pairs partition, then
    overwrite this epoch's band delta so the NEXT epoch sees these
    docs as corpus. Every write is an epoch-keyed overwrite — replays
    are no-ops in effect.

    The index side EXCLUDES the batch's own doc_ids (ADVICE r10, the
    replay/compaction race shared with streaming/spans.py): if this
    epoch's delta lands but the stream checkpoint does not commit, and
    maintenance folds that delta into the base before restart, the
    replay's epoch filter removes the delta but the BASE now carries
    the batch's own bands — the batch's buckets would double (pushing
    them toward the hot cap and distorting the pair set). The id set
    is batch-sized and broadcasts; the anti-join also makes
    re-ingesting an updated document safe."""
    # pin: the HOF shingle->minhash band build feeds the pair probe
    # (which consumes it on both join sides plus the hot-bucket
    # window) AND the delta write — without the pin it recomputes per
    # action, ~4x per micro-batch on the ingestion hot path (the same
    # rationale as probe_and_fold_spans' gram pin; code-review r13)
    batch_bands = stage_pin(doc_bands(batch_docs))
    batch_ids = batch_docs.select("doc_id").distinct()
    idx = probe_view(spark, index_table, delta_dir, epoch_id).join(
        F.broadcast(batch_ids), "doc_id", "left_anti"
    )
    allb = idx.withColumn("__new", F.lit(False)).unionByName(
        batch_bands.withColumn("__new", F.lit(True))
    )
    pairs = incremental_band_probe(allb, is_new=F.col("__new"))
    write_epoch(pairs, pairs_out, epoch_id)
    write_epoch(batch_bands, delta_dir, epoch_id)


# The band index's lifecycle (streaming/lifecycle.py). There is
# deliberately no refit hook: MinHash banding has no fitted parameters —
# the band of a document is a pure function of its text — so folding
# deltas is the only maintenance it ever needs. Forget takes doc_ids.
compact_band_index = partial(compact, BAND_INDEX)
maintain_band_index = partial(maintain, BAND_INDEX, None)
forget_documents_band = partial(forget, BAND_INDEX)


def run_incremental_dedup_stream(
    spark: SparkSession,
    stream_docs_dir: str,
    index_table: str,
    delta_dir: str,
    pairs_out: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    tombstone_dir: str | None = None,
) -> None:
    """Drive the incremental dedup over a file stream of document
    parquet drops, one micro-batch per file (lifecycle.run_stream,
    which drops ``tombstone_dir``'s forgotten doc_ids from every
    batch)."""
    run_stream(
        spark,
        stream_docs_dir,
        DOCS_SCHEMA,
        checkpoint_dir,
        lambda batch_df, epoch_id: probe_and_fold(
            spark, batch_df, index_table, delta_dir, pairs_out, epoch_id
        ),
        max_files_per_trigger,
        tombstone_dir,
    )
