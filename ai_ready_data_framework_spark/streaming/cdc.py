"""Streaming CDC apply: fold an insert/update/delete changelog stream
into a maintained snapshot via ``foreachBatch`` merge.

Grounding: 3-current.md:12-15 ("Change tracking … Streams propagate
changes incrementally") — the streaming twin of the batch MERGE
(operators/relational.py::q_cdc_apply). Each micro-batch applies ONE
``cdc_merge`` step (the same function the batch query uses — the
training_serving_parity argument again: one merge implementation, both
modes), rewriting the snapshot parquet. Because the merge is
associative over disjoint change keys, the final snapshot equals the
single-shot batch merge regardless of how the changelog splits into
micro-batches — proven in tests/test_streaming_cdc.py.

Scale note: rewriting the full snapshot per micro-batch is the
semantics contract, not the 100 TB physical plan — production layouts
make the same merge incremental by partition/bucket pruning (only
files containing changed keys rewrite; Delta/Iceberg merge-on-read is
this exact loop). The foreachBatch structure is unchanged there; only
the sink's write granularity differs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ai_ready_data_framework_spark.io import load_table
from ai_ready_data_framework_spark.operators.relational import cdc_merge
from ai_ready_data_framework_spark.streaming.lifecycle import run_stream

SNAPSHOT_SCHEMA = "o_orderkey long, total_price double, last_op string"


def run_cdc_stream(
    spark: SparkSession,
    base: DataFrame,
    changes: DataFrame,
    work_dir: str,
    n_files: int = 4,
) -> DataFrame:
    """Apply ``changes`` to ``base`` as an availableNow stream of
    ``n_files`` micro-batches, maintaining the snapshot under
    ``work_dir``; returns the final snapshot DataFrame.

    The snapshot double-buffers between two parquet dirs (read v,
    write v+1, swap) — a read can never race the overwrite of the
    file it is reading."""
    stage = os.path.join(work_dir, "changes_stream")
    changes.repartition(n_files).write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema

    snap_dirs = [os.path.join(work_dir, f"snapshot_v{i}") for i in (0, 1)]
    base.write.mode("overwrite").parquet(snap_dirs[0])
    state = {"current": 0}

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        cur = state["current"]
        snapshot = spark.read.parquet(snap_dirs[cur])
        merged = cdc_merge(snapshot, batch_df)
        merged.write.mode("overwrite").parquet(snap_dirs[1 - cur])
        state["current"] = 1 - cur

    run_stream(
        spark, stage, schema, os.path.join(work_dir, "ckpt"), apply_batch
    )
    return spark.read.parquet(snap_dirs[state["current"]])


def run_cdc_stream_orders(
    spark: SparkSession, sf_dir: str, work_dir: str, n_files: int = 4
) -> DataFrame:
    """The canonical instance: orders snapshot + the deterministic
    synthetic changelog, streamed in ``n_files`` micro-batches."""
    from pyspark.sql import functions as F

    from ai_ready_data_framework_spark.operators.relational import cdc_changes

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.round("o_totalprice", 4).alias("total_price"),
        F.lit("keep").alias("last_op"),
    )
    return run_cdc_stream(spark, base, cdc_changes(orders), work_dir, n_files)
