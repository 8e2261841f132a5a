"""The epoch-delta lifecycle shared by the three persisted bucketed
indexes — the LSH band index (streaming/dedup.py), the gram-postings
index (streaming/spans.py) and the IVF index (streaming/ivf.py). Each
index differs only in its layout, an ``IndexSpec`` from
sources/maintenance.py; everything below is written once against it.

Protocol: an index is a bucketed base table, zero or more bucketed
runs, and epoch-keyed delta partitions. Ingest lands each micro-batch
as an idempotent OVERWRITE of ``delta_dir/epoch=N`` (a replay rewrites
the same files instead of appending duplicates), and the probe for
epoch N reads base ∪ runs plus deltas from epochs < N only, so a
failed attempt's half-written delta never leaks into its own retry.

Compaction is tiered (the size-ratio policy of the LSM-tree): while
the listed runs plus the pending deltas hold fewer bytes than the
base, it folds only the pending deltas into one new run
(sources/maintenance.py::publish_run); once they reach the base's
size, it merges base ∪ runs ∪ deltas into a new base generation
(publish_bucketed_generation), which drops the runs. So the bytes an
ingest cycle writes follow the drop, not the index. Either publish
records the folded epoch ids in the table manifest atomically with
the folded data; readers skip manifest-listed epochs, so a crash
between the publish and the delta cleanup can never double rows, and
a re-run converges instead of re-folding. Forget folds pending deltas
first, then republishes base ∪ runs without the erased keys as one
new base.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ai_ready_data_framework_spark.sources.maintenance import (
    IndexSpec,
    _delta_epochs_present,
    _folded_in,
    _fs_delete,
    _fs_dir_bytes,
    _index_view,
    apply_forget_tombstones,
    drop_unlisted_runs,
    folded_epochs_of,
    forget_keys,
    index_files,
    index_locations,
    publish_bucketed_generation,
    publish_run,
    read_epoch_deltas,
    read_epoch_deltas_pinned,
    read_forget_tombstones,
    table_properties,
    write_forget_tombstones,
)

# Size ratio of the tiered compaction: a pass merges into a new base
# once the runs plus its pending deltas hold at least this many times
# the base's bytes, and writes a run below that. At 1 the base at least
# doubles between merges, so the merges' bytes form a geometric series
# bounded by twice the final base, and each ingested posting is
# rewritten O(1) times on average (once into its run, about twice into
# bases). The price is on the read side: the probe unions one more
# bucketed run per compaction until the next merge.
MERGE_RATIO = 1


def write_epoch(df: DataFrame, root: str, epoch_id: int) -> None:
    """Epoch-keyed overwrite of ``root/epoch=N`` — every per-epoch
    output (deltas, pairs, spans, scrubbed text, drift records) lands
    this way, so replays are no-ops in effect."""
    df.write.mode("overwrite").parquet(f"{root}/epoch={epoch_id}")


def probe_view(
    spark: SparkSession,
    index_table: str,
    delta_dir: str,
    before_epoch: int | None = None,
) -> DataFrame:
    """Base ∪ runs ∪ unfolded deltas. Base and run rows keep their
    exchange-free bucket partitioning (read through the catalog); delta
    rows shuffle like any fresh frame — the cost of recency, bounded by
    the compaction cadence. The run list and the folded epochs come
    from ONE read of the table properties — a run publish commits both
    in one ALTER — so the view never pairs one publish's runs with
    another's folded epochs."""
    props = table_properties(spark, index_table)
    view = _index_view(spark, index_table, props)
    deltas = read_epoch_deltas(
        spark, delta_dir, before_epoch, exclude_epochs=_folded_in(props)
    )
    return view if deltas is None else view.unionByName(deltas)


def compact(
    spec: IndexSpec,
    spark: SparkSession,
    index_table: str,
    index_path: str,
    delta_dir: str,
) -> list[int]:
    """Fold every un-folded delta epoch into the index and drop the
    folded partitions; returns the epochs this pass folded.

    Tiered (module docstring): the base, the listed runs and the
    pending deltas are measured by their files' bytes (no Spark job).
    Below ``MERGE_RATIO`` × base, the deltas alone become a new run;
    otherwise base ∪ runs ∪ deltas become a new base generation and
    the runs are dropped. A pass first drops any run a crashed pass
    staged but never listed.

    The delta read is pinned to the listed epochs: an epoch that lands
    after the listing is neither folded nor deleted — a root-dir read
    would fold it WITHOUT recording it, so it would serve doubled and
    the next compaction would bake the duplication into the index. A
    merge reads base and runs from their FILES (``index_files``): a
    bucketed catalog scan claims the bucket partitioning, Catalyst
    then elides the repartition and the output keeps one file per
    input file. The recorded manifest is (previous folds still on
    disk) ∪ (this fold), so entries self-clean once their partitions
    are deleted."""
    table_dir = spec.table_dir(index_path)
    drop_unlisted_runs(spark, index_table, table_dir)  # crashed passes
    props = table_properties(spark, index_table)
    folded_prev = _folded_in(props)
    present = _delta_epochs_present(spark, delta_dir)
    to_fold = sorted(present - folded_prev)
    folded = sorted((folded_prev & present) | set(to_fold))
    if to_fold:
        deltas = read_epoch_deltas_pinned(spark, delta_dir, to_fold)
        base_loc, *run_locs = index_locations(spark, index_table, props)
        small = sum(
            _fs_dir_bytes(spark, d)
            for d in run_locs + [f"{delta_dir}/epoch={e}" for e in to_fold]
        )
        if small < MERGE_RATIO * _fs_dir_bytes(spark, base_loc):
            publish_run(
                spark,
                deltas,
                index_table,
                table_dir,
                spec.bucket_cols,
                spec.n_buckets,
                folded_epochs=folded,
            )
        else:
            publish_bucketed_generation(
                spark,
                index_files(spark, index_table).unionByName(deltas),
                index_table,
                table_dir,
                spec.bucket_cols,
                spec.n_buckets,
                folded_epochs=folded,
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
    count reaches ``compact_after``, compact — into a run or, once the
    runs reach the base's size, into a new base — so probes of that
    data return to the exchange-free path; else do nothing.
    ``hook(pending)`` runs first and may return the pass's report
    instead (the IVF refit); None falls through. Folded epochs never
    count as pending, so a pass re-run after a crash converges. Returns
    ``{"action": "compact", "folded_epochs": [...]}`` — the compactor's
    own list, which includes any epoch that landed after this listing —
    or ``{"action": "none", "pending_epochs": [...]}``; whether the
    compaction wrote a run or a base shows in ``runs_of``."""
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
    republish base ∪ runs without the keys as one new base, which
    absorbs the runs (sources/maintenance.py::forget_keys — audited,
    crash-safe, idempotent; ``idx.*`` side-artifact pointers such as
    the IVF centroids carry over). So the erasure rewrites exactly one
    table, and a merge before it would only be a second full
    rewrite. Run it after the ingest checkpoint has
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
