"""Streaming IVF-index ingestion: micro-batches of new embeddings are
assigned to cells from the SAVED centroid table, landed as epoch-keyed
deltas, drift-checked against the index's cell-occupancy distribution,
and periodically compacted back into the bucketed base — the always-on
ingestion form of sources/maintenance.py's batch IVF path.

Grounding: the reference's vector-index assets demand a MAINTAINED
index under continuous ingestion (vector_index_coverage /
retrieval_recall_compliance, /root/reference/factors/requirements.yaml:66-68,
82-84) and Factor 3 mandates stream-incremental propagation
(3-current.md:13). Per micro-batch the work is assign_cells(batch) —
one broadcast nested-loop over cells x batch rows — so steady-state
cost scales with ingest rate, never index size.

Replay safety: ``append_ivf_index`` (the batch helper) appends to the
bucketed table, so a crashed-and-replayed epoch would DOUBLE its rows.
This loop instead runs the shared epoch-delta lifecycle
(streaming/lifecycle.py): each epoch lands as an idempotent OVERWRITE
of ``delta_dir/epoch=N``, probes read base ∪ deltas (delta rows are not
bucketed, so probes against them shuffle — the documented cost of
recency, bounded by compaction cadence), and compaction folds them
back into one file set per cell bucket.

Refit signal: every epoch can evaluate ``ivf_refit_needed`` (PSI of
cell occupancy, batch vs index) and append a one-row drift record to
``drift_log_dir`` — the executable form of "re-fit when the drift
profile says the distribution moved". The loop only SIGNALS; acting on
it is ``sources/maintenance.py::refit_ivf_index`` (r10 — fit a fresh
quantizer over base ∪ deltas, stage, verify row conservation + probe
recall, atomically swap assignments and centroids), run as planned
maintenance because it rewrites the whole index.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.sources.maintenance import (
    IVF_INDEX,
    _delta_epochs_present,
    assign_cells,
    ivf_refit_needed,
    read_epoch_deltas_pinned,
    refit_ivf_index,
)
from ai_ready_data_framework_spark.streaming.lifecycle import (
    compact,
    forget,
    maintain,
    probe_view,
    run_stream,
    write_epoch,
)

# Mirrors the embeddings table's declared schema (FIXTURES.md) minus
# the label column — a production ingest stream carries id + vector.
EMB_SCHEMA = "vec_id bigint, embedding array<float>"


def indexed_vectors(
    spark: SparkSession, table_name: str, delta_dir: str
) -> DataFrame:
    """The probe view: bucketed base ∪ un-compacted, un-folded deltas
    (lifecycle.probe_view)."""
    return probe_view(spark, table_name, delta_dir)


def ingest_epoch(
    spark: SparkSession,
    batch_vectors: DataFrame,
    centroids: DataFrame,
    table_name: str,
    delta_dir: str,
    epoch_id: int,
    drift_log_dir: str | None = None,
) -> None:
    """One micro-batch step: assign cells from the frozen quantizer,
    overwrite this epoch's delta partition (replays are no-ops in
    effect), and optionally append a drift record — PSI of the batch's
    cell occupancy vs (base ∪ earlier deltas). The drift write is also
    epoch-keyed, so it replays idempotently too."""
    assigned = assign_cells(batch_vectors, centroids)
    if drift_log_dir is not None:
        idx = probe_view(spark, table_name, delta_dir, epoch_id)
        refit, psi = ivf_refit_needed(idx, assigned, centroids)
        drift = spark.createDataFrame(
            [(epoch_id, float(psi), bool(refit))],
            "epoch bigint, cell_psi double, refit_needed boolean",
        )
        write_epoch(drift, drift_log_dir, epoch_id)
    write_epoch(assigned, delta_dir, epoch_id)


def run_ivf_ingest_stream(
    spark: SparkSession,
    stream_vectors_dir: str,
    centroids: DataFrame,
    table_name: str,
    delta_dir: str,
    checkpoint_dir: str,
    drift_log_dir: str | None = None,
    max_files_per_trigger: int = 1,
    tombstone_dir: str | None = None,
) -> None:
    """Drive IVF ingestion over a file stream of embedding parquet
    drops, one micro-batch per file (lifecycle.run_stream, which drops
    ``tombstone_dir``'s forgotten vec_ids from every batch)."""
    run_stream(
        spark,
        stream_vectors_dir,
        EMB_SCHEMA,
        checkpoint_dir,
        lambda batch_df, epoch_id: ingest_epoch(
            spark,
            batch_df,
            centroids,
            table_name,
            delta_dir,
            epoch_id,
            drift_log_dir=drift_log_dir,
        ),
        max_files_per_trigger,
        tombstone_dir,
    )


def maintain_ivf_index(
    spark: SparkSession,
    table_name: str,
    path: str,
    delta_dir: str,
    drift_log_dir: str | None = None,
    queries: DataFrame | None = None,
    compact_after: int = 4,
) -> dict:
    """One scheduled maintenance pass — the action the drift log
    promises (lifecycle.maintain with the refit hook):

    1. If any UN-FOLDED epoch's drift record says ``refit_needed``,
       run ``refit_ivf_index`` (fits a fresh quantizer over base ∪
       deltas, verifies, atomically swaps, folds the deltas).
    2. Else if the un-folded delta count has reached
       ``compact_after``, compact.
    3. Else do nothing.

    Returns ``{"action": "refit"|"compact"|"none", ...detail}``."""

    def refit_if_drifted(pending: list[int]) -> dict | None:
        # read only the pending epochs' drift records (epoch-keyed like
        # the deltas; an epoch ingested without a drift log has none)
        if drift_log_dir is None:
            return None
        logged = _delta_epochs_present(spark, drift_log_dir)
        records = sorted(logged.intersection(pending))
        if not records:
            return None
        log = read_epoch_deltas_pinned(spark, drift_log_dir, records)
        if log.filter(F.col("refit_needed")).limit(1).count() == 0:
            return None
        report = refit_ivf_index(
            spark, table_name, path, delta_dir=delta_dir, queries=queries
        )
        return {"action": "refit", **report}

    return maintain(
        IVF_INDEX,
        refit_if_drifted,
        spark,
        table_name,
        path,
        delta_dir,
        compact_after,
    )


# The IVF index's compaction and takedown (streaming/lifecycle.py;
# forget takes vec_ids). The centroids pointer carries over through
# every republish, so probes keep pairing the surviving assignments with
# the same quantizer — compaction and erasure never silently change
# recall.
compact_ivf_index_deltas = partial(compact, IVF_INDEX)
forget_vectors_ivf = partial(forget, IVF_INDEX)
