"""Distributed graph primitives for dedup clustering.

Near-dup detection emits PAIRS; acting on them (keep one doc per
duplicate group) needs the transitive closure of those pairs —
connected components. The reference's dedup mandate therefore implies
this operator even though no engine ships it as a primitive
(BASELINE.json dedup family; SURVEY.md §2.2 L2).

Algorithm: iterated min-label propagation over the symmetrized edge
list — every node adopts the smallest label in its closed neighborhood
until a fixpoint. Each round is one equi-join + one aggregate (both
shuffle on node id); rounds needed = graph diameter, and near-dup
clusters are near-cliques (diameter ~2), so 3-5 rounds in practice.
At 100 TB the same loop runs with a per-round ``stage_pin`` (done
here) to truncate lineage — without it the iterated plan nests one
join deeper per round and Catalyst re-optimizes the whole history each
time. The classic refinement for adversarial long-chain graphs is
alternating large-star/small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — public literature);
label propagation is the right default for dedup-shaped graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ai_ready_data_framework_spark.functions.cache import stage_pin

DEFAULT_MAX_ITER = 20


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = DEFAULT_MAX_ITER,
) -> DataFrame:
    """Return ``(node, component)`` where ``component`` is the minimum
    node id reachable from ``node`` over the undirected edge set.

    Deterministic: labels are node ids, min is order-free, and the
    fixpoint is unique — safe for the rows-only determinism gate.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = stage_pin(
        sym.unionByName(sym.select(F.col("b").alias("a"), F.col("a").alias("b"))),
        eager=True,
    )

    labels = stage_pin(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        eager=True,
    )
    for _ in range(max_iter):
        neighbor_labels = sym.join(
            labels, sym.b == labels.node
        ).select(F.col("a").alias("node"), "label")
        new_labels = stage_pin(
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label")),
            eager=True,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))
