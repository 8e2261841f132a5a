"""The 48-check assessment engine — the reference's entire
machine-readable surface (/root/reference/factors/requirements.yaml:1-203),
executed as Spark queries.

Contract: every check returns a float in [0, 1]
(/root/reference/README.md:43-45; requirements.yaml:3). Kinds
(SURVEY.md §2.1): M = metadata (catalog/registry introspection),
D = data-level (scans rows), P = pipeline/ops (consumes the engine's
own run logs / measurements).

Execution model: ``run_assessment`` filters checks by workload
(requirements.yaml:4 — training ⊂ serving strictness additivity is the
caller's concern; each check declares its workloads), runs each one,
and returns the canonical score table
``(requirement, factor, workload, kind, value)`` plus a factor rollup
(A4/U1 shapes). The table facts the checks share — row counts, key
distinct/non-null counts, constraint violations, the temporal column's
min/max — come from one profile per table (``table_profile``): a
single aggregate over the columns the registries name, built once per
run and read by every check that needs it. A table that scans as exactly
one split is profiled in one task: the frame is coalesced to its one
partition (no data moves) and the plan needs no exchange; a table of
several splits shuffles only its keys (``_profile_aggs``). The
embeddings label counts, the hourly feature aggregate, the k-anonymity
group count, the point-in-time as-of join, the inverted index and the
per-language document count follow the same rule. The remaining
data-level checks are their own aggregate queries. At 100 TB these are
plain scans with conditional aggregates; nothing collects row-level data
to the driver.

Two materializations are shared artifacts with their own builders:
``clustered_tables`` (a copy of each large table sorted within its input
splits on the clustering key, written without an exchange, so the copy
scales with the scan, not with the largest key range) and
``serving_store`` (the key-bucketed customer store the serving probes
read, one file per bucket, written without an exchange when customer
is one split). ``run_assessment`` submits
each one a selected check reads, then the profiles, to its pool ahead
of the checks; the serial tail of performance probes then runs only
timed work. The feature store of ``feature_materialization_coverage``
is written without an exchange as well: the offline aggregate in one
task when ``events`` is one split, and the online copy sorted on its
key within the offline files.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import threading
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.checks import registries as R
from ai_ready_data_framework_spark.functions import vector as V
from ai_ready_data_framework_spark.io import load_tables, local_df
from ai_ready_data_framework_spark.operators.temporal import as_of_join

FACTORS = ("contextual", "consumable", "current", "correlated", "compliant")


@dataclass
class CheckContext:
    """Shared state for one assessment run: tables, lazily-built
    artifacts, measurements, and the run's own audit log."""

    spark: SparkSession
    sf_dir: str
    run_streaming: bool = True
    tables: dict[str, DataFrame] = field(default_factory=dict)
    artifacts: dict[str, object] = field(default_factory=dict)
    run_log: list[dict] = field(default_factory=list)
    read_log: set[str] = field(default_factory=set)
    _artifact_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False
    )
    _name_locks: dict = field(default_factory=dict, repr=False)
    _scratch: str | None = field(default=None, init=False, repr=False)

    def table(self, name: str) -> DataFrame:
        self.read_log.add(name)
        return self.tables[name]

    def artifact(self, name: str, build: Callable[[], object]) -> object:
        # per-name locks: checks run concurrently (run_assessment's
        # pool) and a racy double-build would waste the most expensive
        # artifacts — but one coarse lock would serialize UNRELATED
        # builds (an LSH fit blocking the schema snapshots), idling
        # the pool. The global lock guards only the lock registry.
        with self._artifact_lock:
            name_lock = self._name_locks.setdefault(name, threading.Lock())
        with name_lock:
            if name not in self.artifacts:
                self.artifacts[name] = build()
            return self.artifacts[name]

    def scratch(self, name: str) -> str:
        """A path under the run's one scratch root, created on first use
        and removed by ``close``."""
        with self._artifact_lock:
            if self._scratch is None:
                self._scratch = tempfile.mkdtemp(prefix="aird_assess_")
        return os.path.join(self._scratch, name)

    def close(self) -> None:
        if self._scratch is not None:
            shutil.rmtree(self._scratch)
            self._scratch = None


@dataclass(frozen=True)
class Check:
    key: str
    factor: str
    workloads: tuple[str, ...]
    kind: str  # M, D, P (or combinations)
    fn: Callable[[CheckContext], float]
    cite: str  # requirements.yaml line range


CHECKS: list[Check] = []


def check(key: str, factor: str, workloads: str, kind: str, cite: str):
    def deco(fn: Callable[[CheckContext], float]):
        CHECKS.append(
            Check(key, factor, tuple(workloads.split(",")), kind, fn, cite)
        )
        return fn

    return deco


def _frac(n: int, d: int) -> float:
    return 1.0 if d == 0 else max(0.0, min(1.0, n / d))


def _scalar(df: DataFrame) -> float:
    row = df.collect()[0]
    v = row[0]
    return 0.0 if v is None else float(v)


def _range_key(c: str, lo: float, hi: float) -> str:
    return f"out_of_range:{c}[{lo},{hi}]"


def _profile_aggs(t: str, expand: bool) -> list[Column]:
    """The named facts a profile holds for ``t``. A key (``c`` or the
    composite ``a,b``) gets ``nonnull:`` (rows with every key column
    set) and ``distinct:`` (count_distinct, which skips the other rows);
    a not_null column gets ``nonnull:``. ``expand`` writes the distinct
    count in its Expand form, for an input of several partitions, else
    in the plain form, for one partition (see below)."""
    aggs = {"n": F.count(F.lit(1))}
    keys = [R.PRIMARY_KEYS[t]] if t in R.PRIMARY_KEYS else []
    for t_, c, kind, lo, hi in R.CONSTRAINTS:
        if t_ != t:
            continue
        if kind == "range":
            aggs[_range_key(c, lo, hi)] = F.count(
                F.when(~F.col(c).between(lo, hi), 1)
            )
        elif kind == "unique":
            keys.append(c)
        else:  # not_null
            aggs[f"nonnull:{c}"] = F.count(F.col(c))
    for k in keys:
        cols = ", ".join(f"`{c}`" for c in k.split(","))
        key_set = " AND ".join(f"`{c}` IS NOT NULL" for c in k.split(","))
        aggs[f"nonnull:{k}"] = F.count(F.when(F.expr(key_set), 1))
        # The FILTER changes no count: count DISTINCT skips those rows
        # anyway. It makes Spark plan the distinct count through Expand,
        # where the other aggregates fold once per partition instead of
        # riding the per-key shuffle, which would carry every key's
        # temporal min/max (lineitem: 2.5x the shuffle bytes). On one
        # partition no shuffle is needed, and the plain form skips Expand.
        distinct = f"count(DISTINCT {cols})"
        if expand:
            distinct += f" FILTER (WHERE {key_set})"
        aggs[f"distinct:{k}"] = F.expr(distinct)
    ts_col = R.TEMPORAL_SCOPE.get(t)
    if ts_col:
        aggs["min_ts"] = F.min(F.col(ts_col).cast("timestamp"))
        aggs["max_ts"] = F.max(F.col(ts_col).cast("timestamp"))
    return [e.alias(k) for k, e in aggs.items()]


def _whole_table(df: DataFrame) -> tuple[DataFrame, bool]:
    """``df`` ready for a whole-table aggregate, and whether it is one
    partition. A frame whose scan reads exactly one split is coalesced
    to one partition: no data moves, but the plan then reports
    SinglePartition, which satisfies every distribution an aggregate
    requires, so the aggregate plans no exchange and runs as one task
    of one job. A scan of no splits stays as it is: there the final
    exchange is what yields a global aggregate's one row.

    Used only by the whole-table keyed operators: ``table_profile``,
    ``label_counts``, the hourly feature aggregate of
    ``feature_materialization_coverage`` and
    ``feature_refresh_compliance``, ``anonymization_effectiveness``, the
    as-of join of ``point_in_time_correctness``, the inverted index of
    ``search_optimization`` and the per-language count of
    ``bias_testing_coverage``; and by ``serving_store``, which skips its
    bucket exchange for a one-split customer. Coalescing every table
    read would also take the reduce-side parallelism from the checks'
    joins and grouped aggregates."""
    if df.rdd.getNumPartitions() == 1:
        return df.coalesce(1), True
    return df, False


def table_profile(ctx: CheckContext, t: str) -> Row:
    """One aggregate over table ``t``: every table fact a check reads,
    as one Row (see ``_profile_aggs``). Built once per context;
    ``run_assessment`` builds all of them concurrently ahead of the
    checks. A table that scans as one split is profiled in one task
    with no exchange; a larger one keeps the Expand form, whose two
    exchanges carry only the keys."""

    def build() -> Row:
        df, one = _whole_table(ctx.table(t))
        return df.agg(*_profile_aggs(t, expand=not one)).first()

    return ctx.artifact(f"profile:{t}", build)  # type: ignore[return-value]


def label_counts(ctx: CheckContext) -> dict:
    """Rows per embeddings label (a NULL label is its own group), in
    one task when the table scans as one split."""

    def build() -> dict:
        df, _ = _whole_table(ctx.table("embeddings"))
        return {r.label: r["count"] for r in df.groupBy("label").count().collect()}

    return ctx.artifact("label_counts", build)  # type: ignore[return-value]


# ===========================================================================
# Factor 1 — Contextual (requirements.yaml:8-39)
# ===========================================================================


@check("semantic_documentation", "contextual", "serving,training", "M", ":9-11")
def semantic_documentation(ctx: CheckContext) -> float:
    total = doc = 0
    for t, df in ctx.tables.items():
        for c in df.columns:
            total += 1
            doc += (t, c) in R.COLUMN_DESCRIPTIONS
    return _frac(doc, total)


@check("relationship_declaration", "contextual", "serving,training", "M", ":13-15")
def relationship_declaration(ctx: CheckContext) -> float:
    """Detected cross-entity references (columns matching another
    table's PK by name convention) vs declared FK registry entries."""
    declared = {(c, col) for c, col, _, _ in R.FOREIGN_KEYS}
    detected: set[tuple[str, str]] = set()
    pk_cols = {pk for pk in R.PRIMARY_KEYS.values() if "," not in pk}
    for t, df in ctx.tables.items():
        own_pk = R.PRIMARY_KEYS.get(t, "")
        for c in df.columns:
            if c in own_pk.split(","):
                continue
            if c.endswith("key") or c in ("user_id", "vec_id"):
                detected.add((t, c))
    return _frac(len(detected & declared), len(detected))


@check("entity_identifier_declaration", "contextual", "serving,training", "M", ":17-19")
def entity_identifier_declaration(ctx: CheckContext) -> float:
    """Declared PKs, verified unique on the data (declaration without
    validity is worthless at training time). A NULL in a declared PK
    makes count_distinct undercount and the check fail — which a null
    PK deserves."""
    ok = 0
    for t in sorted(ctx.tables):
        if t in R.PRIMARY_KEYS:
            p = table_profile(ctx, t)
            ok += p[f"distinct:{R.PRIMARY_KEYS[t]}"] == p.n
    # NOTE: lineitem's declared composite key is legitimately non-unique
    # in the synthetic corpus — the check reports that honestly (<1.0).
    return _frac(ok, len(ctx.tables))


@check("temporal_scope_declaration", "contextual", "serving,training", "M", ":21-23")
def temporal_scope_declaration(ctx: CheckContext) -> float:
    declared = sum(1 for t in ctx.tables if t in R.TEMPORAL_SCOPE)
    return _frac(declared, len(ctx.tables))


@check("schema_type_coverage", "contextual", "serving,training", "M", ":25-27")
def schema_type_coverage(ctx: CheckContext) -> float:
    """Parquet schemas are declared and machine-readable by
    construction; verify no field degraded to an untyped fallback."""
    total = typed = 0
    for df in ctx.tables.values():
        for f_ in df.schema.fields:
            total += 1
            typed += f_.dataType.typeName() != "null"
    return _frac(typed, total)


@check("business_glossary_linkage", "contextual", "serving,training", "M", ":29-31")
def business_glossary_linkage(ctx: CheckContext) -> float:
    """Glossary links over business-meaning columns (non-key columns)."""
    total = linked = 0
    for t, df in ctx.tables.items():
        for c in df.columns:
            if c.endswith("key") or c.endswith("_id") or c == "event_id":
                continue
            total += 1
            linked += (t, c) in R.GLOSSARY_LINKS
    return _frac(linked, total)


@check("constraint_declaration", "contextual", "serving,training", "M+D", ":33-35")
def constraint_declaration(ctx: CheckContext) -> float:
    """Declared constraints, scored by validating each on the data
    (the table profiles hold every constraint's counts). Unique has SQL
    UNIQUE semantics: uniqueness among NON-NULL values, so a nullable
    unique column passes, as in ANSI."""
    passed = 0
    for t, c, kind, lo, hi in R.CONSTRAINTS:
        p = table_profile(ctx, t)
        if kind == "unique":
            passed += p[f"distinct:{c}"] == p[f"nonnull:{c}"]
        elif kind == "not_null":
            passed += p[f"nonnull:{c}"] == p.n
        else:  # range
            passed += p[_range_key(c, lo, hi)] == 0
    return _frac(passed, len(R.CONSTRAINTS))


@check("unit_of_measure_declaration", "contextual", "serving,training", "M", ":37-39")
def unit_of_measure_declaration(ctx: CheckContext) -> float:
    numeric_types = {"double", "float", "int", "bigint", "smallint", "decimal"}
    total = declared = 0
    for t, df in ctx.tables.items():
        for c, dt in df.dtypes:
            if dt in numeric_types and not (c.endswith("key") or c.endswith("_id")):
                total += 1
                declared += (t, c) in R.UNITS
    return _frac(declared, total)


# ===========================================================================
# Factor 2 — Consumable (requirements.yaml:41-88)
# ===========================================================================


LARGE_TABLES = [
    t for t, m in R.ASSETS.items() if m["kind"] in ("fact", "stream", "corpus")
]


def clustered_tables(ctx: CheckContext) -> set[str]:
    """A clustered copy of every large table (facts, streams, corpora)
    under the run's scratch root, each split sorted on the table's
    clustering key: its temporal column, else its primary key.

    ``sortWithinPartitions`` adds no exchange: every scan task sorts
    and writes its own split, so the copy is one file per input split
    with tight min/max statistics on the key, and readers skip row
    groups by range. A partitioned layout would need a shuffle on the
    partition column, which at 100 TB sends a whole month of a fact
    table to one writer task; the sorted copy stays as parallel as the
    scan, one read and one write of the table."""

    def build() -> set[str]:
        for t in LARGE_TABLES:
            key = R.TEMPORAL_SCOPE.get(t) or R.PRIMARY_KEYS[t]
            (
                ctx.table(t)
                .sortWithinPartitions(*key.split(","))
                .write.mode("overwrite")
                .parquet(ctx.scratch(f"cluster/{t}"))
            )
        return set(LARGE_TABLES)

    return ctx.artifact("clustered_tables", build)  # type: ignore[return-value]


@check("access_optimization", "consumable", "serving,training", "M", ":42-44")
def access_optimization(ctx: CheckContext) -> float:
    """Large tables (facts/streams/corpora) must carry a clustering key
    (requirements.yaml:42-44; SURVEY.md accepts partitionBy, bucketBy
    or sortWithinPartitions): verified by the existence of their
    sort-clustered copies (``clustered_tables``)."""
    return _frac(len(clustered_tables(ctx)), len(LARGE_TABLES))


@check("search_optimization", "consumable", "serving", "M", ":46-48")
def search_optimization(ctx: CheckContext) -> float:
    """Text assets with a tokenized inverted-index materialization —
    built for real (token → postings) over documents."""
    text_assets = ["documents"]

    def build() -> set[str]:
        docs, _ = _whole_table(ctx.table("documents"))
        inv = (
            docs.select(
                "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
            )
            .groupBy("token")
            .agg(F.collect_set("doc_id").alias("postings"))
        )
        inv.count()  # materialize
        return {"documents"}

    indexed: set[str] = ctx.artifact("indexed_assets", build)  # type: ignore[assignment]
    return _frac(len(indexed), len(text_assets))


SERVING_KEY_BUCKETS = 16
SERVING_PROBE_KEYS = 20


def serving_store(ctx: CheckContext) -> str:
    """The path of customer written as a key-bucketed serving store:
    partitioned by __kb = c_custkey % SERVING_KEY_BUCKETS (plain modulo,
    so a probe computes its bucket driver-side).

    Every ``__kb=k`` directory holds one file, so a probe reads one
    split. ``partitionBy`` sorts each write task's rows on __kb and
    writes one file per bucket it meets: a one-split customer is
    written by its one scan task with no exchange, while several splits
    (each spanning every bucket) are first gathered into one task per
    bucket. Without that exchange each of N splits would leave a file
    in every bucket, and every probe would run N tasks."""

    def build() -> str:
        d = ctx.scratch("serving_store")
        customer, one_split = _whole_table(ctx.table("customer"))
        keyed = customer.withColumn("__kb", F.col("c_custkey") % SERVING_KEY_BUCKETS)
        if not one_split:
            keyed = keyed.repartition(SERVING_KEY_BUCKETS, "__kb")
        keyed.write.mode("overwrite").partitionBy("__kb").parquet(d)
        return d

    return ctx.artifact("serving_store_path", build)  # type: ignore[return-value]


@check("serving_latency_compliance", "consumable", "serving", "P", ":50-52")
def serving_latency_compliance(ctx: CheckContext) -> float:
    """Measured p99 of key-lookup probes against a KEY-BUCKETED serving
    materialization vs the declared SLA (ADVICE r3: the previous form
    ran 20 sequential filters over a cached frame — every probe paid a
    full 32-partition scan of the cache; a real online store is laid
    out so a point lookup touches ONE bucket).

    Each timed probe against ``serving_store`` filters
    (__kb == k % 16, c_custkey == k), which partition-prunes to a
    single directory — one task per probe instead of one task per
    cached partition. ``run_assessment`` writes the store in its pool,
    so the serial probe phase times only the probes. Per-probe wall
    times are recorded in the artifacts for the audit log; the score
    is the p99-vs-SLA comparison as before."""
    store = ctx.spark.read.parquet(serving_store(ctx))
    keys = [
        r.c_custkey
        for r in ctx.table("customer")
        .select("c_custkey")
        .limit(SERVING_PROBE_KEYS)
        .collect()
    ]
    # one untimed warmup probe: file listing + codegen are per-store
    # one-offs a serving tier pays at startup, not per lookup — timing
    # them into probe 1 would make the p99 measure deployment cost
    store.filter(
        (F.col("__kb") == keys[0] % SERVING_KEY_BUCKETS)
        & (F.col("c_custkey") == keys[0])
    ).collect()
    lat_ms: list[float] = []
    for k in keys:
        t0 = time.perf_counter()
        store.filter(
            (F.col("__kb") == k % SERVING_KEY_BUCKETS)
            & (F.col("c_custkey") == k)
        ).collect()
        lat_ms.append((time.perf_counter() - t0) * 1000)
    lat_ms.sort()
    p99 = lat_ms[max(0, int(len(lat_ms) * 0.99) - 1)]
    ctx.artifacts["serving_p99_ms"] = p99
    ctx.artifacts["serving_probe_ms"] = [round(v, 2) for v in lat_ms]
    return 1.0 if p99 <= R.SERVING_P99_SLA_MS else 0.0


@check("embedding_coverage", "consumable", "serving", "D", ":54-56")
def embedding_coverage(ctx: CheckContext) -> float:
    n_docs = table_profile(ctx, "documents").n
    docs, emb = ctx.table("documents"), ctx.table("embeddings")
    missing = docs.join(
        emb, docs.doc_id == emb.vec_id, "left_anti"
    ).count()
    return _frac(n_docs - missing, n_docs)


@check("feature_materialization_coverage", "consumable", "serving,training", "M", ":58-60")
def feature_materialization_coverage(ctx: CheckContext) -> float:
    """Features materialized offline (columnar) AND online (sorted on
    the entity key) — engine materializes both for real, with no
    exchange when ``events`` scans as one split.

    The offline aggregate runs over ``_whole_table(events)``: one task
    for a one-split table, the keyed exchange for several splits. The
    online copy is the offline files, each sorted on ``user_id``.
    Nothing in the package reads the written files: this check and
    ``point_lookup_availability`` score the registry names."""

    def build() -> set[str]:
        from ai_ready_data_framework_spark.streaming.parity import (
            hourly_event_features,
        )

        d = ctx.scratch("features")
        events, _ = _whole_table(ctx.table("events"))
        # offline: columnar, one row per (hour, user)
        hourly_event_features(events).write.mode("overwrite").parquet(
            f"{d}/hourly_features"
        )
        # online: copied from the offline files so the aggregate runs
        # once, each file sorted on the entity key
        ctx.spark.read.parquet(f"{d}/hourly_features").sortWithinPartitions(
            "user_id"
        ).write.mode("overwrite").parquet(f"{d}/hourly_features_online")
        return {"hourly_features", "hourly_features_online"}

    mats: set[str] = ctx.artifact("feature_materializations", build)  # type: ignore[assignment]
    need = {m for f_ in R.FEATURES.values() for m in (f_["offline"], f_["online"])}
    return _frac(len(need & mats), len(need))


@check("native_format_availability", "consumable", "serving,training", "M", ":62-64")
def native_format_availability(ctx: CheckContext) -> float:
    native = {"parquet", "json", "vector"}
    ok = sum(1 for m in R.ASSETS.values() if m["format"] in native)
    return _frac(ok, len(R.ASSETS))


@check("vector_index_coverage", "consumable", "serving", "M", ":66-68")
def vector_index_coverage(ctx: CheckContext) -> float:
    """Embedding collections with a fitted, maintained vector index —
    fits a BucketedRandomProjectionLSH model for real."""

    def build() -> object:
        from pyspark.ml.feature import BucketedRandomProjectionLSH
        from pyspark.ml.functions import array_to_vector

        vecs = ctx.table("embeddings").select(
            "vec_id",
            array_to_vector(F.col("embedding").cast("array<double>")).alias("v"),
        )
        lsh = BucketedRandomProjectionLSH(
            inputCol="v", outputCol="hashes", bucketLength=2.0, numHashTables=4,
            seed=42,
        )
        model = lsh.fit(vecs)
        ctx.artifacts["vector_model_input"] = vecs
        return model

    ctx.artifact("vector_index", build)
    return 1.0  # 1 of 1 embedding collections indexed


@check("chunk_readiness", "consumable", "serving", "D", ":70-72")
def chunk_readiness(ctx: CheckContext) -> float:
    """Documents pre-chunked to context-window size: fraction of chunks
    within the char budget (50 tokens x avg word len → 400 chars)."""
    from ai_ready_data_framework_spark.operators.ai import q_chunk

    chunks = q_chunk(ctx.spark, ctx.sf_dir)
    return _scalar(
        chunks.agg(F.avg(F.when(F.length("chunk") <= 400, 1.0).otherwise(0.0)))
    )


@check("batch_throughput_sufficiency", "consumable", "training", "P", ":74-76")
def batch_throughput_sufficiency(ctx: CheckContext) -> float:
    """Measured full-scan throughput (rows/s) vs the training-idle
    target; the row count comes from the lineitem profile."""
    li = ctx.table("lineitem")
    n_rows = table_profile(ctx, "lineitem").n
    t0 = time.perf_counter()
    n = li.select(F.sum("l_quantity")).collect()[0][0]
    dt = time.perf_counter() - t0
    rows_s = n_rows / max(dt, 1e-9)
    ctx.artifacts["scan_rows_per_s"] = rows_s
    return min(1.0, rows_s / R.BATCH_THROUGHPUT_TARGET_ROWS_S) if n is not None else 0.0


@check("point_lookup_availability", "consumable", "serving", "M", ":78-80")
def point_lookup_availability(ctx: CheckContext) -> float:
    """Entity tables reachable by point lookup: those with a declared
    primary key, scored from the registries, not from a written layout
    (``serving_store`` is customer's key-bucketed store)."""
    entity_tables = [t for t, m in R.ASSETS.items() if m["kind"] == "entity"]
    # engine serves entities from on-disk key-bucketed stores
    # (serving_store writes customer's); count entities with a declared
    # PK (lookupable) among entity tables
    ok = sum(1 for t in entity_tables if t in R.PRIMARY_KEYS)
    return _frac(ok, len(entity_tables))


@check("retrieval_recall_compliance", "consumable", "serving", "D", ":82-84")
def retrieval_recall_compliance(ctx: CheckContext) -> float:
    """recall@10 of the LSH index vs brute-force ground truth, scored
    against the declared recall target."""
    vector_index = ctx.artifacts.get("vector_index")
    if vector_index is None:
        vector_index_coverage(ctx)
        vector_index = ctx.artifacts["vector_index"]
    vecs = ctx.artifacts["vector_model_input"]
    key = vecs.filter(F.col("vec_id") == 0).head()
    approx = {
        r.vec_id
        for r in vector_index.approxNearestNeighbors(  # type: ignore[attr-defined]
            vecs.filter(F.col("vec_id") != 0), key["v"], 10
        ).collect()
    }
    emb = ctx.table("embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    exact = {
        r.vec_id
        for r in emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", V.l2_distance(F.col("embedding"), F.col("qv")).alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    }
    recall = len(approx & exact) / 10
    ctx.artifacts["retrieval_recall_at_10"] = recall
    return min(1.0, recall / R.RECALL_TARGET)


@check("embedding_dimension_consistency", "consumable", "serving", "D", ":86-88")
def embedding_dimension_consistency(ctx: CheckContext) -> float:
    emb = ctx.table("embeddings")
    return _scalar(
        emb.agg(F.avg(F.when(F.size("embedding") == 64, 1.0).otherwise(0.0)))
    )


# ===========================================================================
# Factor 3 — Current (requirements.yaml:90-125)
# ===========================================================================


@check("change_detection", "current", "serving,training", "M", ":91-93")
def change_detection(ctx: CheckContext) -> float:
    """Mutable assets (facts/streams) whose ingest pipeline has change
    tracking (CDC) enabled; reference data is exempt by kind."""
    mutable = [t for t, m in R.ASSETS.items() if m["kind"] in ("fact", "stream")]
    with_cdc = sum(
        1
        for t in mutable
        if R.PIPELINES.get(R.ASSET_PIPELINES.get(t, ""), {}).get("cdc")
    )
    return _frac(with_cdc, len(mutable))


@check("data_freshness", "current", "serving,training", "D", ":95-97")
def data_freshness(ctx: CheckContext) -> float:
    """Temporal assets within the freshness SLA. Anchor = the newest
    event time within each asset's timeline domain (orders/lineitem
    share the OMS business timeline; events has its own) — never wall
    clock (FIXTURES.md:130-132). An asset is stale when its latest
    record trails its domain anchor by more than the SLA, or has no
    record at all (a domain with no timestamps is all stale)."""
    temporal = [t for t, c in R.TEMPORAL_SCOPE.items() if c and t in ctx.tables]
    maxes = {t: table_profile(ctx, t).max_ts for t in temporal}
    domains: dict[str, list[str]] = {}
    for t in temporal:
        domains.setdefault(R.TIMELINE_DOMAINS.get(t, t), []).append(t)
    sla_s = R.FRESHNESS_SLA_HOURS * 3600
    fresh = 0
    for members in domains.values():
        seen = [maxes[t] for t in members if maxes[t] is not None]
        fresh += sum((max(seen) - m).total_seconds() <= sla_s for m in seen)
    return _frac(fresh, len(temporal))


@check("propagation_latency_compliance", "current", "serving,training", "P+D", ":99-101")
def propagation_latency_compliance(ctx: CheckContext) -> float:
    """End-to-end propagation of logged pipeline runs vs SLA — consumes
    the engine's own run log (each check run is a pipeline execution).
    Only records timed SERIALLY are scored (ADVICE r5): the pooled
    checks run under 6-way concurrency, so their duration_s measures
    scheduler contention as much as per-check latency — scoring them
    would make this compliance value vary with machine load rather
    than pipeline behavior. With no serial record yet (this check runs
    early in the timed phase) there is nothing contention-free to
    grade, which is vacuous compliance, not a violation."""
    serial = [r for r in ctx.run_log if r.get("timing") == "serial"]
    if not serial:
        return 1.0
    within = sum(1 for r in serial if r["duration_s"] <= R.PROPAGATION_SLA_S)
    return _frac(within, len(serial))


@check("point_in_time_correctness", "current", "training", "D", ":103-105")
def point_in_time_correctness(ctx: CheckContext) -> float:
    """Leakage audit over the as-of-joined training matrix: fraction of
    rows whose feature_ts <= label_ts (must be 1.0 by construction).
    Labels and features come from one ``_whole_table(events)`` frame, so
    when events scans as one split the as-of join plans no exchange and
    the check runs as one task."""
    events, _ = _whole_table(ctx.table("events"))
    labels = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("lts")
    )
    features = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("fts"), F.col("event_id").alias("fid")
    )
    joined = as_of_join(labels, features, "user_id", "lts", "fts", ["fid", "fts"])
    # count_if skips a label with no earlier click (NULL fts): no leak
    row = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("fts") > F.col("lts")).alias("leaks"),
    ).first()
    return _frac(row.n - row.leaks, row.n)


@check("training_serving_parity", "current", "serving,training", "D", ":107-109")
def training_serving_parity(ctx: CheckContext) -> float:
    """Shared-transform parity measured for real: batch vs availableNow
    stream over the same input (skipped → declared-parity 1.0 when
    streaming is disabled for fast runs; the transform is the same
    function object by construction either way)."""
    if not ctx.run_streaming:
        return 1.0
    from ai_ready_data_framework_spark.streaming.parity import (
        hourly_event_features,
        parity_fraction,
    )

    return parity_fraction(ctx.spark, ctx.sf_dir, hourly_event_features)


@check("feature_refresh_compliance", "current", "serving", "D", ":111-113")
def feature_refresh_compliance(ctx: CheckContext) -> float:
    """Served features refreshed within staleness tolerance: latest
    feature window per user vs the event-time anchor (the events
    profile's max_ts). One task with no exchange when events scans as one
    split."""
    from ai_ready_data_framework_spark.streaming.parity import hourly_event_features

    anchor_us = F.unix_micros(F.lit(table_profile(ctx, "events").max_ts))
    events, _ = _whole_table(ctx.table("events"))
    feats = hourly_event_features(events)
    per_user = feats.groupBy("user_id").agg(F.max("window_start_us").alias("last_us"))
    tol_us = R.FEATURE_STALENESS_HOURS * 3600 * 1_000_000
    return _scalar(
        per_user.agg(
            F.avg(F.when(anchor_us - F.col("last_us") <= tol_us, 1.0).otherwise(0.0))
        )
    )


@check("temporal_referential_integrity", "current", "serving,training", "D", ":115-117")
def temporal_referential_integrity(ctx: CheckContext) -> float:
    events = ctx.table("events")
    anchor = table_profile(ctx, "events").max_ts
    return _scalar(
        events.agg(
            F.avg(
                F.when(
                    F.col("ts").isNotNull()
                    & F.col("ts").between("2020-01-01", anchor),
                    1.0,
                ).otherwise(0.0)
            )
        )
    )


@check("schema_evolution_tracking", "current", "serving,training", "M", ":119-121")
def schema_evolution_tracking(ctx: CheckContext) -> float:
    """Assets with schema snapshots + version ids — snapshots taken for
    real (schema JSON + content-derived version id)."""

    def build() -> dict[str, str]:
        import hashlib

        return {
            t: hashlib.sha256(df.schema.json().encode()).hexdigest()[:12]
            for t, df in ctx.tables.items()
        }

    versions: dict[str, str] = ctx.artifact("schema_versions", build)  # type: ignore[assignment]
    return _frac(len(versions), len(ctx.tables))


@check("incremental_update_coverage", "current", "serving,training", "M", ":123-125")
def incremental_update_coverage(ctx: CheckContext) -> float:
    data_pipelines = {k: p for k, p in R.PIPELINES.items() if k != "assessment_run"}
    inc = sum(1 for p in data_pipelines.values() if p["incremental"])
    return _frac(inc, len(data_pipelines))


# ===========================================================================
# Factor 4 — Correlated (requirements.yaml:127-162)
# ===========================================================================


def _downstream(starts: set[str]) -> set[str]:
    """Nodes reachable from ``starts`` over one or more lineage edges
    (``R.LINEAGE_EDGES``, a registry constant read on the driver)."""
    out: dict[str, set[str]] = {}
    for src, dst, _ in R.LINEAGE_EDGES:
        out.setdefault(src, set()).add(dst)
    reached: set[str] = set()
    frontier = set(starts)
    while frontier:
        frontier = {d for n in frontier for d in out.get(n, ())} - reached
        reached |= frontier
    return reached


@check("data_provenance", "correlated", "serving,training", "M", ":128-130")
def data_provenance(ctx: CheckContext) -> float:
    return _frac(sum(1 for t in R.ASSETS if t in R.PROVENANCE), len(R.ASSETS))


@check("lineage_completeness", "correlated", "serving,training", "M", ":132-134")
def lineage_completeness(ctx: CheckContext) -> float:
    """Assets reachable from an external source (a ``src:*`` node) via
    the lineage graph's transitive closure."""
    srcs = {s for s, _, _ in R.LINEAGE_EDGES if s.startswith("src:")}
    return _frac(len(R.ASSETS.keys() & _downstream(srcs)), len(R.ASSETS))


@check("data_version_coverage", "correlated", "training", "M", ":136-138")
def data_version_coverage(ctx: CheckContext) -> float:
    schema_evolution_tracking(ctx)  # ensures snapshots exist
    versions = ctx.artifacts.get("schema_versions", {})
    return _frac(len(versions), len(ctx.tables))  # type: ignore[arg-type]


@check("agent_attribution", "correlated", "serving,training", "D", ":140-142")
def agent_attribution(ctx: CheckContext) -> float:
    """Modifications with a recorded responsible agent — events as the
    modification log, user_id as the agent. An empty log scores 0.0."""
    p = table_profile(ctx, "events")
    return p["nonnull:user_id"] / p.n if p.n else 0.0


@check("pipeline_execution_audit", "correlated", "serving,training", "P", ":144-146")
def pipeline_execution_audit(ctx: CheckContext) -> float:
    """Every executed check leaves an immutable run record (the runner
    appends to the run log); fraction of runs with complete records."""
    if not ctx.run_log:
        return 0.0
    complete = sum(
        1
        for r in ctx.run_log
        if all(k in r for k in ("check", "inputs", "status", "duration_s"))
    )
    return _frac(complete, len(ctx.run_log))


@check("dependency_graph_completeness", "correlated", "serving,training", "M", ":148-150")
def dependency_graph_completeness(ctx: CheckContext) -> float:
    """Assets that appear in the lineage graph, as a source or a
    destination of some edge."""
    nodes = {n for s, d, _ in R.LINEAGE_EDGES for n in (s, d)}
    return _frac(len(R.ASSETS.keys() & nodes), len(R.ASSETS))


@check("record_level_traceability", "correlated", "serving,training", "D", ":152-154")
def record_level_traceability(ctx: CheckContext) -> float:
    """Distinct event ids (NULL counts as one value) vs events, capped
    by the non-null ids."""
    p = table_profile(ctx, "events")
    nn = p["nonnull:event_id"]
    distinct = p["distinct:event_id"] + (nn < p.n)
    return _frac(min(distinct, nn), p.n)


@check("impact_analysis_capability", "correlated", "serving,training", "M", ":156-158")
def impact_analysis_capability(ctx: CheckContext) -> float:
    """Assets whose transitive downstream set is enumerable. Over a
    registry graph every asset's set is (a terminal asset's is empty),
    so this scores 1.0 for any ``R.LINEAGE_EDGES`` and ``R.ASSETS``."""
    impact = {a: _downstream({a}) for a in R.ASSETS}
    return _frac(len(impact), len(R.ASSETS))


@check("transformation_documentation", "correlated", "serving,training", "M", ":160-162")
def transformation_documentation(ctx: CheckContext) -> float:
    """Registered transforms with documented logic — real docstring
    introspection over the declared-query registry."""
    from ai_ready_data_framework_spark.registry import QUERIES, load_all

    load_all()
    total = len(QUERIES)
    documented = sum(1 for fn in QUERIES.values() if (fn.__doc__ or "").strip())
    return _frac(documented, total)


# ===========================================================================
# Factor 5 — Compliant (requirements.yaml:164-203)
# ===========================================================================


@check("classification", "compliant", "serving,training", "M", ":165-167")
def classification(ctx: CheckContext) -> float:
    return _frac(
        sum(1 for t in R.ASSETS if t in R.CLASSIFICATION_TAGS), len(R.ASSETS)
    )


@check("field_masking", "compliant", "serving,training", "D", ":169-171")
def field_masking(ctx: CheckContext) -> float:
    """PII columns with masking applied — two multiplicative halves:
    the masked MATERIALIZATION actually differs from the raw values,
    AND the governed read path consumers use (checks/enforce.py::
    read_enforced, r13) hands out exactly the audited sha2 masks for
    every registered PII column — enforcement by construction, scored
    value-for-value against the raw table."""
    from ai_ready_data_framework_spark.checks.enforce import read_enforced
    from ai_ready_data_framework_spark.operators.ai import q_mask_pii

    masked = q_mask_pii(ctx.spark, ctx.sf_dir)
    docs = ctx.table("documents")
    # the round-6 masking union is long-format: score the column_hash
    # leg over the text field (masked value must differ from raw)
    hashed = masked.filter(
        (F.col("mask_kind") == "column_hash") & (F.col("field") == "text")
    ).select(F.col("rec_id").alias("doc_id"), "masked_value")
    joined = hashed.join(docs, "doc_id")
    materialized = _scalar(
        joined.agg(
            F.avg(F.when(F.col("masked_value") != F.col("text"), 1.0).otherwise(0.0))
        )
    )
    # enforcement half: per registered (table, column), the enforced
    # read must equal sha2(raw, 256) on every row — ONE join + ONE
    # aggregation per table covering all of its masked columns (one
    # Spark action each, not one per column), data-level like the rest
    # of the D checks
    enforced_fracs: list[float] = []
    for t, cols in R.MASKED_FIELDS.items():
        purpose = R.PURPOSES[t][0]
        key = R.PRIMARY_KEYS[t]
        enforced = read_enforced(ctx.spark, ctx.sf_dir, t, purpose).select(
            key, *[F.col(c).alias(f"__m_{c}") for c in cols]
        )
        raw = ctx.table(t)
        row = (
            enforced.join(raw, key)
            .agg(
                *[
                    F.avg(
                        F.when(
                            F.col(f"__m_{c}") == F.sha2(F.col(c), 256), 1.0
                        ).otherwise(0.0)
                    ).alias(c)
                    for c in cols
                ]
            )
            .collect()[0]
        )
        enforced_fracs.extend(
            0.0 if row[c] is None else float(row[c]) for c in cols
        )
    return min([materialized, *enforced_fracs])


@check("access_audit_coverage", "compliant", "serving,training", "P", ":173-175")
def access_audit_coverage(ctx: CheckContext) -> float:
    """AI data access events captured in the audit log — the runner
    records every table read; coverage = read tables / assessed tables."""
    return _frac(len(ctx.read_log & set(ctx.tables)), len(ctx.tables))


@check("bias_testing_coverage", "compliant", "training", "M", ":177-179")
def bias_testing_coverage(ctx: CheckContext) -> float:
    """Training datasets with a statistical bias test performed — the
    engine computes distribution profiles for real (see
    demographic_representation); registry of produced reports."""

    def build() -> set[str]:
        label_counts(ctx)
        docs, _ = _whole_table(ctx.table("documents"))
        docs.groupBy("lang").count().collect()
        return {"embeddings", "documents"}

    reports: set[str] = ctx.artifact("bias_reports", build)  # type: ignore[assignment]
    training_sets = {"embeddings", "documents"}
    return _frac(len(reports & training_sets), len(training_sets))


@check("purpose_limitation", "compliant", "serving,training", "M", ":181-183")
def purpose_limitation(ctx: CheckContext) -> float:
    """Declared purposes per asset, GATED on the read path actually
    refusing an undeclared purpose (r13): declaration without a
    working refusal is documentation, not limitation — if
    read_enforced lets an undeclared purpose through, the whole check
    scores 0 regardless of registry coverage."""
    from ai_ready_data_framework_spark.checks.enforce import (
        PurposeDenied,
        read_enforced,
    )

    try:
        read_enforced(
            ctx.spark, ctx.sf_dir, "documents", "__undeclared_purpose__"
        )
        return 0.0  # the gate did not hold
    except PurposeDenied:
        pass
    return _frac(sum(1 for t in R.ASSETS if R.PURPOSES.get(t)), len(R.ASSETS))


@check("license_compliance", "compliant", "serving,training", "M", ":185-187")
def license_compliance(ctx: CheckContext) -> float:
    external = [t for t, m in R.ASSETS.items() if m.get("external")]
    return _frac(sum(1 for t in external if t in R.LICENSES), len(external))


@check("demographic_representation", "compliant", "training", "D", ":189-191")
def demographic_representation(ctx: CheckContext) -> float:
    """1 - total-variation distance of the label shares from uniform."""
    counts = label_counts(ctx).values()
    total, even = float(sum(counts)), 1.0 / len(counts)
    tv = sum(abs(n / total - even) for n in counts) / 2
    return max(0.0, 1.0 - tv)


@check("consent_coverage", "compliant", "serving,training", "D", ":193-195")
def consent_coverage(ctx: CheckContext) -> float:
    """Personal-data rows with a declared valid legal basis."""
    personal = [t for t, m in R.ASSETS.items() if m.get("personal")]
    rows = {t: table_profile(ctx, t).n for t in personal}
    covered = sum(n for t, n in rows.items() if t in R.CONSENT_BASIS)
    return _frac(covered, sum(rows.values()))


@check("retention_policy", "compliant", "serving,training", "M+D", ":197-199")
def retention_policy(ctx: CheckContext) -> float:
    """Datasets with retention policies, verified: oldest record within
    the retention window of the data anchor."""
    ok = 0
    for t, days in R.RETENTION_DAYS.items():
        if R.TEMPORAL_SCOPE.get(t) and t in ctx.tables:
            p = table_profile(ctx, t)
            ok += p.min_ts is not None and (p.max_ts - p.min_ts).days <= days
    return _frac(ok, len(R.RETENTION_DAYS))


@check("anonymization_effectiveness", "compliant", "serving,training", "D", ":201-203")
def anonymization_effectiveness(ctx: CheckContext) -> float:
    """k-anonymity: the smallest (QUASI_IDENTIFIERS) group of documents
    against KANON_K, grouped in one task when documents is one split."""
    docs, _ = _whole_table(ctx.table("documents"))
    min_group = (
        docs.groupBy(*R.QUASI_IDENTIFIERS)
        .count()
        .agg(F.min("count"))
        .collect()[0][0]
    )
    return min(1.0, float(min_group) / R.KANON_K)


# ===========================================================================
# Runner
# ===========================================================================


# shared materializations, by the check that reads each
MATERIALIZATIONS: dict[str, Callable[[CheckContext], object]] = {
    "access_optimization": clustered_tables,
    "serving_latency_compliance": serving_store,
}


def run_assessment(
    spark: SparkSession,
    sf_dir: str,
    workload: str | None = None,
    run_streaming: bool = True,
) -> DataFrame:
    """Run all checks (optionally filtered by workload tag,
    requirements.yaml:4) and return the canonical score table."""
    from ai_ready_data_framework_spark import registry

    registry.load_all()  # transformation_documentation reads the registry
    ctx = CheckContext(spark=spark, sf_dir=sf_dir, run_streaming=run_streaming)
    ctx.tables = load_tables(spark, sf_dir)
    selected = [
        chk
        for chk in CHECKS
        if not (workload and workload not in chk.workloads)
    ]
    # Top-level scheduling: the 48 checks are independent, so the
    # metadata/data checks run CONCURRENTLY — each is a few small jobs
    # bound by driver-side job setup, and a serial loop leaves the
    # scheduler idle between them. Performance-probe checks
    # (kind containing "P") measure wall-clock latency/throughput, so
    # they run serially AFTER the pool drains — concurrent load would
    # contaminate their measured values, not just their duration.
    pooled = [c for c in selected if "P" not in c.kind]
    timed = [c for c in selected if "P" in c.kind]

    def run_one(chk: Check) -> tuple[str, float, str, float]:
        t0 = time.perf_counter()
        try:
            value = float(chk.fn(ctx))
            status = "ok"
        except Exception as exc:  # noqa: BLE001
            value, status = 0.0, f"error: {exc}"
            import warnings

            warnings.warn(f"check {chk.key} errored: {exc}", stacklevel=2)
        return chk.key, value, status, time.perf_counter() - t0

    from concurrent.futures import ThreadPoolExecutor

    def record(
        chk: Check, res: tuple[str, float, str, float], timing: str
    ) -> tuple:
        _key, value, status, duration = res
        value = max(0.0, min(1.0, value))
        ctx.run_log.append(
            {
                "check": chk.key,
                "inputs": sorted(ctx.read_log),
                "params": {"sf_dir": sf_dir, "workload": workload},
                "status": status,
                "duration_s": duration,
                # "serial" = measured alone after the pool drained;
                # "pooled" = wall-clock under 6-way contention, which
                # inflates duration_s nondeterministically — SLA-style
                # consumers must score serial records only (ADVICE r5)
                "timing": timing,
            }
        )
        return (
            chk.key,
            chk.factor,
            ",".join(chk.workloads),
            chk.kind,
            round(value, 4),
        )

    results: dict[str, tuple[str, float, str, float]] = {}
    row_by_key: dict[str, tuple] = {}
    try:
        with ThreadPoolExecutor(max_workers=6) as pool:
            # the shared materializations a selected check reads, then
            # one profile scan per table, submitted ahead of the checks
            # so they run concurrently and the serial tail below holds
            # only timed probes; a failed build is retried, and
            # reported, by the checks that need it
            for chk in selected:
                if chk.key in MATERIALIZATIONS:
                    pool.submit(MATERIALIZATIONS[chk.key], ctx)
            for t in ctx.tables:
                pool.submit(table_profile, ctx, t)
            for res in pool.map(run_one, pooled):
                results[res[0]] = res
        # Append pooled run records (declaration order) BEFORE the timed
        # checks run: pipeline_execution_audit and
        # propagation_latency_compliance consume the run log itself, and
        # in the pre-concurrency serial loop they saw every earlier
        # check's record — an empty log here silently zeroed the audit
        # score.
        for chk in pooled:
            row_by_key[chk.key] = record(chk, results[chk.key], "pooled")
        for chk in timed:  # each timed check sees all prior records too
            row_by_key[chk.key] = record(chk, run_one(chk), "serial")
    finally:
        ctx.close()

    rows = [row_by_key[chk.key] for chk in selected]
    return local_df(
        spark, rows,
        "requirement string, factor string, workload string, kind string, value double",
    )


def factor_scores(scores: DataFrame) -> DataFrame:
    """Rollup to factor and overall scores (A4 shape — the 'automated
    assessments or dashboards' aggregation, README.md:45). The score
    table is one driver-side row per check, so the roll-up runs on the
    driver: collecting the LocalRelation runs no job, where a Spark
    rollup paid an exchange and its jobs for six rows. The mean is
    exact decimal arithmetic rounded HALF_UP to 4 places, so a tie
    rounds up whatever order the scores are summed in."""
    rows = scores.select("factor", "value").collect()
    groups: dict[str, list[float]] = {}
    for r in rows:
        groups.setdefault(r.factor, []).append(r.value)
    if rows:
        groups["(overall)"] = [r.value for r in rows]
    return local_df(
        scores.sparkSession,
        [(f, _mean_4dp(v), len(v)) for f, v in sorted(groups.items())],
        "factor string, score double, n_checks long",
    )


def _mean_4dp(values: list[float]) -> float:
    mean = sum(Decimal(repr(v)) for v in values) / len(values)
    return float(mean.quantize(Decimal("0.0001"), ROUND_HALF_UP))
