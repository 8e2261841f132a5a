"""Stage-cache pinning with a cluster-durability toggle (VERDICT r5 #3).

Several operators materialize a mid-pipeline frame that feeds multiple
downstream consumers (minhash bands, the funnel's shingle frame, the
incident burst table, iterative closure frontiers, ...). Two ways to
pin such a frame:

- ``localCheckpoint`` (the default): truncates lineage and stores the
  blocks on the executors that computed them. Cheapest option and the
  right one on local[N], but NOT executor-loss-safe on a real cluster:
  losing an executor loses its blocks AND the lineage needed to
  recompute them, failing the job (the tradeoff documented at
  functions/text.py::banded_minhash_pairs since round 4).
- ``checkpoint`` (the durable toggle WITH a configured
  ``setCheckpointDir``, r7): a reliable checkpoint to shared storage —
  survives executor loss AND truncates lineage, so the iterative
  closures keep flat plans. The production-cluster setting.
- ``persist(MEMORY_AND_DISK)`` (the durable toggle, no checkpoint
  dir): keeps the lineage,
  so a lost executor's blocks recompute from source. Costs plan
  retention — for the iterative closure (functions/graph.py's
  connected components) the logical plan then grows with each round,
  bounded by the loop's hard iteration cap (20). Persisted entries are
  held by the CacheManager until unpersist (unlike localCheckpoint
  blocks, which the ContextCleaner GCs), so the iterative call site
  unpersists each superseded round's frame — a no-op in the default
  branch — and the funnel releases its shingle pin with its stage
  caches. The index-compaction path (streaming/dedup.py) deliberately
  does NOT use this helper: it must truncate lineage before
  overwriting its own input table, which the persist branch would
  break.

The toggle is one session conf so a cluster deployment flips EVERY
site at once without touching operator code:

    spark.conf.set("spark.aird.durableStageCache", "true")

Defaults unchanged (localCheckpoint) — identical local behavior and
bench numbers; tests/test_plans.py drives a representative operator
through the persist branch and asserts identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DURABLE_CACHE_CONF = "spark.aird.durableStageCache"


def durable_cache_enabled(spark) -> bool:
    try:
        return str(spark.conf.get(DURABLE_CACHE_CONF, "false")).lower() == "true"
    except Exception:  # pragma: no cover - conf service unavailable
        return False


def _reliable_checkpoint_dir_set(spark) -> bool:
    try:
        return spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    except Exception:  # pragma: no cover - py4j surface unavailable
        return False


def stage_pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize a multi-consumer stage frame: localCheckpoint by
    default; under the durability toggle, a RELIABLE checkpoint when
    ``spark.sparkContext.setCheckpointDir`` points at shared storage,
    else persist(MEMORY_AND_DISK) (module docstring). ``eager`` forces
    materialization now — some call sites need the frame computed
    before mutating its inputs or before a count-dependent branch.

    The reliable-checkpoint branch is the cluster-production answer
    for the ITERATIVE site (graph components): it
    both survives executor loss AND truncates lineage, where the
    persist branch retains it — each closure round's plan then embeds
    the previous round's, growing exponentially in round count
    (measured: ~1.1 MB optimized plan at the 20-round cap on the
    fixture's component closure, vs ~300 bytes truncated). The
    iteration caps bound that growth, so persist stays CORRECT as the
    dirless fallback — but point a checkpoint dir at durable storage
    before running deep closures on a real cluster."""
    spark = df.sparkSession
    if durable_cache_enabled(spark):
        if _reliable_checkpoint_dir_set(spark):
            return df.checkpoint(eager=eager)
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            out.count()
        return out
    return df.localCheckpoint(eager=eager)
