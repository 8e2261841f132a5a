"""Streaming exact-substring (ExactSubstr) scrubbing: micro-batches of
new documents probe a PERSISTED gram-postings index — "does any run of
>= min_run consecutive tokens in this incoming doc already exist in the
corpus?" — emit the matching spans, then fold their own grams into the
index. The always-on ingestion form of q_dedup_spans /
q_decontam_spans (operators/ai.py).

Grounding: the reference's Factor 3 mandates stream-incremental
propagation (/root/reference/factors/3-current.md:13); the north star
makes dedup a first-class pipeline stage. Published pipelines run this
pass offline over suffix arrays (Lee et al. 2022, public paper); the
Spark-native index is the gram-hash posting set bucketed by hash, so
the corpus-sized probe side joins with NO exchange once compacted.
Per micro-batch the work is (batch grams) semi-join (index) — steady-
state cost follows ingest RATE, never corpus size.

Contract per epoch: spans are CROSS-corpus only — tokens of a new doc
covered by grams present in the index or in earlier epochs' deltas.
Two copies arriving in the SAME micro-batch do not flag each other
(compose ``duplicated_spans(batch, keep='first')`` on the batch for
that); they are corpus from the next epoch on.

Replay safety and compaction are the shared epoch-delta lifecycle
(streaming/lifecycle.py): spans land in ``spans_out/epoch=N`` and the
batch's grams in ``delta_dir/epoch=N``, both idempotent overwrites.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.functions.cache import stage_pin
from ai_ready_data_framework_spark.operators.ai import (
    SPAN_MIN_RUN,
    _merge_gram_intervals,
    gram_postings,
    strip_duplicated_spans,
)
from ai_ready_data_framework_spark.sources.maintenance import (
    GRAM_INDEX,
    write_bucketed,
)
from ai_ready_data_framework_spark.streaming.dedup import DOCS_SCHEMA
from ai_ready_data_framework_spark.streaming.lifecycle import (
    compact,
    forget,
    maintain,
    run_stream,
    unfolded_deltas,
    write_epoch,
)

GRAM_INDEX_BUCKETS = GRAM_INDEX.n_buckets


def write_gram_index(
    grams: DataFrame,
    table_name: str,
    path: str,
    n_buckets: int = GRAM_INDEX_BUCKETS,
) -> None:
    """Materialize gram postings (operators/ai.py::gram_postings
    output: doc_id, pos, h) bucketed and sorted by hash — the probe
    semi-join's corpus side then reports HashPartitioning(h) and joins
    with no exchange and no sort."""
    write_bucketed(grams, table_name, path, GRAM_INDEX.bucket_cols, n_buckets)


def probe_and_fold_spans(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_table: str,
    delta_dir: str,
    spans_out: str,
    epoch_id: int,
    min_run: int = SPAN_MIN_RUN,
    scrubbed_out: str | None = None,
) -> None:
    """One micro-batch step: semi-join the batch's grams against
    (base index ∪ earlier deltas), merge the hits into maximal spans
    per new doc, overwrite this epoch's spans partition, then
    overwrite this epoch's gram delta so the NEXT epoch sees these
    docs as corpus. Both writes are epoch-keyed overwrites — replays
    are no-ops in effect.

    The probe EXCLUDES the batch's own doc_ids from the index side
    (ADVICE r10, the replay/compaction race): if this epoch's delta
    lands but the stream checkpoint does not commit, and a maintenance
    pass folds that delta into the base before restart, the replay's
    epoch filter removes the delta but the BASE now carries the
    batch's own grams — without the exclusion every doc would
    semi-join against itself and the replay would overwrite
    ``spans_out/epoch=N`` with full-doc self-match spans. The id set
    is batch-sized and broadcasts; provenance exclusion also makes
    re-ingesting an updated document safe (it never matches its own
    older grams)."""
    # two actions consume the batch's grams (the spans write probes
    # with them, the delta write lands them) — pin so the HOF shingle
    # build runs once per epoch, not once per action
    batch_grams = stage_pin(gram_postings(batch_docs, min_run=min_run))
    spans = probe_spans(
        spark,
        batch_grams,
        index_table,
        earlier=unfolded_deltas(spark, index_table, delta_dir, epoch_id),
        min_run=min_run,
        exclude_ids=batch_docs.select("doc_id").distinct(),
    )
    _write_spans(batch_docs, spans, spans_out, scrubbed_out, epoch_id)
    write_epoch(batch_grams, delta_dir, epoch_id)


def _write_spans(
    batch_docs: DataFrame,
    spans: DataFrame,
    spans_out: str,
    scrubbed_out: str | None,
    epoch_id: int,
) -> None:
    """Land the epoch's span report and, with ``scrubbed_out``, the
    batch rewritten by ``strip_duplicated_spans``."""
    if scrubbed_out is not None:
        # the WRITE side of the always-on scrub (r11): the spans feed
        # two consumers (the report write and the strip), so pin the
        # epoch-sized frame — the probe semi-join runs once per epoch
        spans = stage_pin(spans)
    write_epoch(spans, spans_out, epoch_id)
    if scrubbed_out is not None:
        write_epoch(
            strip_duplicated_spans(batch_docs, spans), scrubbed_out, epoch_id
        )


def probe_spans(
    spark: SparkSession,
    batch_grams: DataFrame,
    index_table: str,
    earlier: DataFrame | None = None,
    min_run: int = SPAN_MIN_RUN,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """The probe plan itself (pure, so tests can pin its physical
    shape): batch grams LEFT SEMI join the hash-bucketed index (the
    corpus-sized side claims HashPartitioning(h) from its buckets and
    never reshuffles; only the rate-sized batch side moves), then the
    per-doc interval merge. ``exclude_ids`` (a doc_id frame) drops
    those documents' postings from BOTH index sides before the hash
    projection — a broadcast anti-join, so the bucketed side's
    partitioning survives (plan-pinned). Callers pass the batch's own
    ids: self-provenance must never count as corpus (ADVICE r10
    replay/compaction race; see probe_and_fold_spans)."""

    def _without_own(postings: DataFrame) -> DataFrame:
        if exclude_ids is None:
            return postings
        return postings.join(F.broadcast(exclude_ids), "doc_id", "left_anti")

    probe = _without_own(spark.table(index_table)).select("h")
    if earlier is not None:
        probe = probe.unionByName(_without_own(earlier).select("h"))
    hits = batch_grams.join(probe, "h", "left_semi")
    ints = hits.select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + F.lit(min_run - 1)).alias("e"),
    )
    return _merge_gram_intervals(ints, "doc_id")


# The gram index's lifecycle (streaming/lifecycle.py). No refit hook:
# gram postings are a pure function of text, nothing fitted can drift.
# Forget takes doc_ids; run it after the scrub stream's checkpoint has
# committed past the epochs that carried them.
compact_gram_index = partial(compact, GRAM_INDEX)
maintain_gram_index = partial(maintain, GRAM_INDEX, None)
forget_documents_gram = partial(forget, GRAM_INDEX)


def run_span_scrub_stream(
    spark: SparkSession,
    stream_docs_dir: str,
    index_table: str,
    delta_dir: str,
    spans_out: str,
    checkpoint_dir: str,
    min_run: int = SPAN_MIN_RUN,
    max_files_per_trigger: int = 1,
    scrubbed_out: str | None = None,
    tombstone_dir: str | None = None,
) -> None:
    """Drive the ExactSubstr scrub over a file stream of document
    parquet drops, one micro-batch per file (lifecycle.run_stream).

    ``scrubbed_out`` (r11) completes the WRITE side: each epoch also
    lands the batch rewritten by ``strip_duplicated_spans`` — the
    document set with every already-in-corpus passage removed — under
    ``scrubbed_out/epoch=N``, the same replay-safe epoch-keyed
    overwrite as the span report. Training-shard builders consume the
    scrubbed partitions directly instead of re-deriving the strip.
    ``tombstone_dir`` is the set forget_documents_gram writes when
    given the same dir."""
    run_stream(
        spark,
        stream_docs_dir,
        DOCS_SCHEMA,
        checkpoint_dir,
        lambda batch_df, epoch_id: probe_and_fold_spans(
            spark,
            batch_df,
            index_table,
            delta_dir,
            spans_out,
            epoch_id,
            min_run=min_run,
            scrubbed_out=scrubbed_out,
        ),
        max_files_per_trigger,
        tombstone_dir,
    )


def run_decontam_stream(
    spark: SparkSession,
    stream_docs_dir: str,
    benchmark_table: str,
    spans_out: str,
    checkpoint_dir: str,
    min_run: int = SPAN_MIN_RUN,
    max_files_per_trigger: int = 1,
    scrubbed_out: str | None = None,
    tombstone_dir: str | None = None,
) -> None:
    """Streaming exact-substring DECONTAMINATION — the stream-static
    sibling of ``run_span_scrub_stream``: each micro-batch of TRAINING
    documents probes a FIXED benchmark gram index (``write_gram_index``
    over the held-out/eval set) and lands the overlapping spans — and,
    with ``scrubbed_out``, the stripped rewrite — per epoch. There is
    deliberately NO fold step: the benchmark is static, training docs
    must never become probe corpus, and two training docs sharing text
    must NOT flag each other here (that is ``run_span_scrub_stream``'s
    job). Matches ``cross_duplicated_spans``' batch semantics epoch by
    epoch (parity-tested); the epoch-keyed overwrites make replays
    no-ops in effect. Per-epoch cost follows ingest rate; the
    benchmark index side probes exchange-free off its buckets."""

    def step(batch_df: DataFrame, epoch_id: int) -> None:
        grams = gram_postings(batch_df, min_run=min_run)
        spans = probe_spans(spark, grams, benchmark_table, min_run=min_run)
        _write_spans(batch_df, spans, spans_out, scrubbed_out, epoch_id)

    run_stream(
        spark,
        stream_docs_dir,
        DOCS_SCHEMA,
        checkpoint_dir,
        step,
        max_files_per_trigger,
        tombstone_dir,
    )
