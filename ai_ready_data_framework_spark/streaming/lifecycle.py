"""The epoch-delta lifecycle shared by the three persisted bucketed
indexes — the LSH band index (streaming/dedup.py), the gram-postings
index (streaming/spans.py) and the IVF index (streaming/ivf.py). Each
index differs only in its layout, an ``IndexSpec`` from
sources/maintenance.py; everything below is written once against it.

Protocol: an index is a bucketed base table plus epoch-keyed delta
partitions. Ingest lands each micro-batch as an idempotent OVERWRITE of
``delta_dir/epoch=N`` (a replay rewrites the same files instead of
appending duplicates), and the probe for epoch N reads the base plus
deltas from epochs < N only, so a failed attempt's half-written delta
never leaks into its own retry. Compaction folds the deltas into a new
base generation through the staged publish
(sources/maintenance.py::publish_bucketed_generation), whose catalog
swap records the folded epoch ids in the table manifest atomically with
the folded data; readers skip manifest-listed epochs, so a crash
between the publish and the delta cleanup can never double rows, and a
re-run converges instead of re-folding. Forget compacts first, then
republishes the base without the erased keys.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ai_ready_data_framework_spark.sources.maintenance import (
    IndexSpec,
    _delta_epochs_present,
    _fs_delete,
    _table_location,
    apply_forget_tombstones,
    folded_epochs_of,
    forget_keys,
    publish_bucketed_generation,
    read_epoch_deltas,
    read_epoch_deltas_pinned,
    read_forget_tombstones,
    write_forget_tombstones,
)


def write_epoch(df: DataFrame, root: str, epoch_id: int) -> None:
    """Epoch-keyed overwrite of ``root/epoch=N`` — every per-epoch
    output (deltas, pairs, spans, scrubbed text, drift records) lands
    this way, so replays are no-ops in effect."""
    df.write.mode("overwrite").parquet(f"{root}/epoch={epoch_id}")


def unfolded_deltas(
    spark: SparkSession,
    index_table: str,
    delta_dir: str,
    before_epoch: int | None = None,
) -> DataFrame | None:
    """Delta rows the base does not hold yet: epochs below
    ``before_epoch`` minus those the table manifest lists as folded
    (their files can outlive a compaction that crashed before its
    cleanup)."""
    return read_epoch_deltas(
        spark,
        delta_dir,
        before_epoch,
        exclude_epochs=folded_epochs_of(spark, index_table),
    )


def probe_view(
    spark: SparkSession,
    index_table: str,
    delta_dir: str,
    before_epoch: int | None = None,
) -> DataFrame:
    """Bucketed base ∪ unfolded deltas. Base rows keep their
    exchange-free bucket partitioning (read through the catalog); delta
    rows shuffle like any fresh frame — the cost of recency, bounded by
    the compaction cadence."""
    base = spark.table(index_table)
    deltas = unfolded_deltas(spark, index_table, delta_dir, before_epoch)
    return base if deltas is None else base.unionByName(deltas)


def compact(
    spec: IndexSpec,
    spark: SparkSession,
    index_table: str,
    index_path: str,
    delta_dir: str,
) -> list[int]:
    """Fold every un-folded delta epoch into a new base generation and
    drop the folded partitions; returns the epochs this pass folded.

    The delta read is pinned to the listed epochs: an epoch that lands
    after the listing is neither folded nor deleted — a root-dir read
    would fold it WITHOUT recording it, so it would serve doubled and
    the next compaction would bake the duplication into the base. The
    base is read from the table's FILES: a bucketed catalog scan claims
    the bucket partitioning, Catalyst then elides the repartition and
    the output keeps one file per input file. The recorded manifest is
    (previous folds still on disk) ∪ (this fold), so entries self-clean
    once their partitions are deleted."""
    folded_prev = folded_epochs_of(spark, index_table)
    present = _delta_epochs_present(spark, delta_dir)
    to_fold = sorted(present - folded_prev)
    if to_fold:
        base = spark.read.parquet(_table_location(spark, index_table))
        deltas = read_epoch_deltas_pinned(spark, delta_dir, to_fold)
        publish_bucketed_generation(
            spark,
            base.unionByName(deltas),
            index_table,
            spec.table_dir(index_path),
            spec.bucket_cols,
            spec.n_buckets,
            folded_epochs=sorted((folded_prev & present) | set(to_fold)),
        )
    # cleanup half — every failure mode before this point is covered
    # by the manifest; every partition deleted here is already folded
    for e in sorted(folded_prev | set(to_fold)):
        _fs_delete(spark, f"{delta_dir}/epoch={e}")
    return to_fold


def maintain(
    spec: IndexSpec,
    hook: "Callable[[list[int]], dict | None] | None",
    spark: SparkSession,
    index_table: str,
    index_path: str,
    delta_dir: str,
    compact_after: int = 4,
) -> dict:
    """One scheduled maintenance pass, idempotent (run it from cron /
    an orchestrator between ingest windows): once the un-folded delta
    count reaches ``compact_after``, compact so probes of that data
    return to the exchange-free path; else do nothing. ``hook(pending)``
    runs first and may return the pass's report instead (the IVF
    refit); None falls through. Folded epochs never count as pending,
    so a pass re-run after a crash converges. Returns
    ``{"action": "compact", "folded_epochs": [...]}`` — the compactor's
    own list, which includes any epoch that landed after this listing —
    or ``{"action": "none", "pending_epochs": [...]}``."""
    folded = folded_epochs_of(spark, index_table)
    pending = sorted(_delta_epochs_present(spark, delta_dir) - folded)
    report = hook(pending) if hook is not None else None
    if report is not None:
        return report
    if len(pending) >= compact_after:
        folded_now = compact(spec, spark, index_table, index_path, delta_dir)
        return {"action": "compact", "folded_epochs": folded_now}
    return {"action": "none", "pending_epochs": pending}


def forget(
    spec: IndexSpec,
    spark: SparkSession,
    keys: DataFrame,
    index_table: str,
    index_path: str,
    delta_dir: str,
    tombstone_dir: str | None = None,
) -> dict:
    """Takedown: append ``keys`` to the landing-zone tombstone set FIRST
    (before any index work, so even a crash mid-forget leaves the zone
    protected, and a stream given the same dir drops them from every
    future micro-batch, checkpoint-loss replays included); then fold
    pending deltas so no posting survives in an un-folded epoch; then
    republish the base without the keys
    (sources/maintenance.py::forget_keys — audited, crash-safe,
    idempotent; ``idx.*`` side-artifact pointers such as the IVF
    centroids carry over). Run it after the ingest checkpoint has
    committed past the epochs that carried the keys."""
    if tombstone_dir is not None:
        write_forget_tombstones(
            spark, keys, tombstone_dir, key_col=spec.key_col
        )
    compact(spec, spark, index_table, index_path, delta_dir)
    return forget_keys(
        spark,
        keys,
        index_table,
        spec.table_dir(index_path),
        spec.bucket_cols,
        spec.n_buckets,
        key_col=spec.key_col,
    )


def run_stream(
    spark: SparkSession,
    source_dir: str,
    schema: "StructType | str",
    checkpoint_dir: str,
    step: "Callable[[DataFrame, int], None]",
    max_files_per_trigger: int = 1,
    tombstone_dir: str | None = None,
) -> None:
    """Drive ``step(batch_df, epoch_id)`` over a file stream of parquet
    drops. availableNow + maxFilesPerTrigger=1 gives one micro-batch per
    dropped file — deterministic for tests, and the exact shape of a
    production landing-zone listener. Each batch is first
    broadcast-anti-joined against the takedown tombstone set in
    ``tombstone_dir`` (re-read per batch, so a new takedown applies from
    the next one), so replays and re-drops never re-land a forgotten
    key. Compaction is NOT in the loop: run the index's maintenance
    pass on its own cadence."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def each(batch_df: DataFrame, epoch_id: int) -> None:
        tombstones = read_forget_tombstones(spark, tombstone_dir)
        step(apply_forget_tombstones(batch_df, tombstones), epoch_id)

    (
        stream.writeStream.foreachBatch(each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
