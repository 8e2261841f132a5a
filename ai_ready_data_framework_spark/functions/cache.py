"""Stage-cache pinning (VERDICT r5 #3).

Several operators materialize a mid-pipeline frame that feeds multiple
downstream consumers (minhash bands, the funnel's shingle frame, the
incident burst table, iterative closure frontiers, ...). Both forms of
the pin truncate lineage, so the iterative closures keep flat plans;
the session's checkpoint directory picks which one every site takes:

- ``checkpoint`` when ``spark.sparkContext.setCheckpointDir`` is set:
  a reliable checkpoint to that (shared) storage, which survives
  executor loss. The production-cluster setting.
- ``localCheckpoint`` otherwise: stores the blocks on the executors
  that computed them. Cheapest, and the right one on local[N], but
  NOT executor-loss-safe on a real cluster: losing an executor loses
  its blocks AND the lineage needed to recompute them, failing the job
  (Zaharia et al., "Resilient Distributed Datasets", NSDI 2012).

Neither form is released by ``unpersist``, so call sites keep no
release bookkeeping: localCheckpoint blocks are freed when their RDDs
are garbage-collected (the ContextCleaner), and reliable checkpoint
files stay under the directory unless
``spark.cleaner.referenceTracking.cleanCheckpoints`` is set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stage_pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize a multi-consumer stage frame: a reliable checkpoint
    when the session has a checkpoint directory, else a localCheckpoint
    (module docstring). ``eager`` forces materialization now — some
    call sites need the frame computed before mutating its inputs or
    before a count-dependent branch."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
