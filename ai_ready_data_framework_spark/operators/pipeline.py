"""End-to-end training-data pipeline funnel (north-star composition).

Grounding: the reference's whole point is a governed path from raw
corpus to AI-ready consumable (/root/reference/README.md:43-45,
factors/2-consumable.md) — but it specifies the FACTORS, not the
pipeline. This operator composes the engine's own building blocks into
the canonical LLM pretraining-data pipeline and reports the funnel:

    raw → near dedup (greedy 8-gram-overlap drop: a doc survives iff
          no smaller-id doc shares a NON-BOILERPLATE 8-token shingle
          with it — shingles above the posting-df cap are boilerplate
          and generate no candidates (dup_drop_ids; VERDICT r5 #1).
          Exact duplicates share every shingle including rare ones,
          so this subsumes sha2 dedup, and this corpus's duplicates
          are near-dups, not bitwise)
        → quality filter (Gopher battery, operators/quality.py)
        → eval decontamination (8-gram containment vs the held-out
          fold — longer shingles than q_contamination's bigrams
          because decontamination needs rare-by-chance n-grams)
        → mixture freeze (per-source md5 thresholds, q_mix_weighted's
          rates)

    Dedup-then-filter is the C4 ordering. The greedy smaller-id-wins
    rule is deterministic and engine-portable (no iterative clustering
    in the funnel; q_dedup_clusters has the full connected-components
    treatment).

Each stage reports rows_in / rows_out / keep_frac — the number every
data-curation report leads with, and the first thing a user checks
when a pipeline change shifts downstream eval numbers.

Scale: every stage is the same shape as its standalone operator —
pure filters (quality, mix), one 32-byte-key aggregate (dedup), one
distinct + equi-join on shingle (decontam). Stage composition adds NO
new shuffles beyond the standalone ops; counting rows per stage is a
tiny aggregate union. The funnel over 100 TB costs what its most
expensive stage costs.

Registered rows-only; the full-funnel DuckDB oracle runs in
tests/test_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.functions import text as T
from ai_ready_data_framework_spark.functions.cache import stage_pin
from ai_ready_data_framework_spark.io import load_table, local_df
from ai_ready_data_framework_spark.operators.ai import (
    EVAL_FOLD_MOD,
    MAX_SHINGLE_DF_ABS,
    MAX_SHINGLE_DF_FRACTION,
    MIX_DEFAULT_WEIGHT,
    MIX_WEIGHTS,
    mix_threshold_hex,
)
from ai_ready_data_framework_spark.operators.quality import gopher_keep
from ai_ready_data_framework_spark.registry import query

# Decontamination shingle length: long enough that sharing one is
# evidence of copying, not chance (the public-pipeline convention is
# 8-13 tokens; bigrams like q_contamination's would collide on any
# shared phrase and empty the corpus).
DECONTAM_SHINGLE_K = 8


def doc_shingles(frame: DataFrame, k: int = DECONTAM_SHINGLE_K) -> DataFrame:
    """Distinct k-gram shingles per document: (doc_id, s).

    The tokenize→shingle explode is the funnel's heaviest map chain and
    ran as ONE task on the one-file corpus (2.4 s serialized at sf0.1
    while 31 cores idled — guide §2.5 input skew); io.spread_scan
    hash-spreads the scan by a compressed-byte work budget and is a
    no-op on multi-file (100 TB) layouts."""
    from ai_ready_data_framework_spark.io import spread_scan

    return spread_scan(frame.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.explode(F.array_distinct(T.shingles(T.tokens("text"), k))).alias("s"),
    )


def dup_drop_ids(sh: DataFrame, n_docs: int) -> DataFrame:
    """Stage-1 near-dedup rule: doc_ids to DROP — every doc sharing a
    NON-BOILERPLATE k-gram with a smaller-id doc.

    Posting cap (VERDICT r5 #1): the self-join's candidate volume is
    sum(df^2) over the shingle posting lists, and mass-df shingles are
    exactly what real web text has — license headers, navigation
    chrome, boilerplate — so an uncapped join goes quadratic on the
    worst key. Shingles above least(frac*n_docs, abs) postings are
    dropped from BOTH join sides before candidates form (the same
    df-cap rule as q_dedup_ngram / q_containment_pairs, ai.py): a
    shingle shared by hundreds of documents is boilerplate, not
    evidence of copying, so dropping it is a semantic improvement AND
    the scale fix — candidate volume is bounded by O(df_cap * df) per
    surviving shingle. Dedup of true mass-duplicates (which share MANY
    shingles, including rare ones) still triggers via any of their
    sub-cap shingles; documents identical only in boilerplate no
    longer count as copies.

    Physical shape (late round 6): the greedy smaller-id-wins rule
    never needs the posting SELF-join the spec (and the DuckDB oracle,
    which keeps the declarative pair form as an independent check)
    states — a doc is dropped iff it exceeds the MINIMUM doc_id of any
    sub-cap shingle group it belongs to. So one (s → min, df)
    aggregate joined back to the postings replaces pair generation
    entirely: candidate volume falls from O(sum(df^2)) — bounded by
    the cap — to O(postings), the join's build side is one narrow row
    per shingle, and hot-key skew is ordinary equi-join skew that
    AQE's skew-join splitting already handles."""
    cap = F.least(
        F.lit(MAX_SHINGLE_DF_FRACTION * n_docs), F.lit(float(MAX_SHINGLE_DF_ABS))
    )
    groups = sh.groupBy("s").agg(
        F.min("doc_id").alias("__mn"), F.count("*").alias("df")
    )
    keep_groups = groups.filter((F.col("df") <= cap) & (F.col("df") >= 2)).select(
        "s", "__mn"
    )
    return (
        sh.join(keep_groups, "s")
        .filter(F.col("doc_id") > F.col("__mn"))
        .select("doc_id")
        .distinct()
    )




@query("q_pipeline_e2e")  # rows-only; full-funnel
# DuckDB oracle runs in tests/test_pipeline.py
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North star (composition): the standard pretraining-data funnel
    built from this engine's own operators; returns one row per stage
    with rows_in / rows_out / keep_frac. See module docstring."""
    docs = load_table(spark, sf_dir, "documents")

    # stage 1 — near dedup: drop any doc sharing a non-boilerplate
    # 8-gram with a smaller-id doc (per-shingle min-join, hot postings
    # capped — see dup_drop_ids).
    # ONE tokenize→shingle pass for the whole funnel (VERDICT r4 #7):
    # the 8-gram frame feeds FOUR consumers — the (min, df) shingle
    # aggregate, the dup min-join's posting side, the eval-fold
    # shingle set, and the survivor shingles for decontam — and
    # per-branch filter pushdown makes the branches canonically
    # different, so nothing reuses without materializing. Same lazy
    # stage_pin recipe as the minhash bands (functions/text.py::
    # banded_minhash_pairs; executor-loss safe only with a checkpoint
    # directory, functions/cache.py).
    n_docs = docs.count()
    sh_raw = stage_pin(doc_shingles(docs))
    # Stage outputs feed BOTH the next stage and the funnel's counts,
    # so without a cache every stage count would re-run all upstream
    # stages. The cached frames are id-list-sized, never the corpus
    # (late r6): dup_drop is the small drop set — stage 1's survivor
    # count is just n_docs - |dup_drop| (the drop ids are a distinct
    # subset of docs by construction), so the full-text "deduped"
    # frame is never materialized at all; the anti-join fuses straight
    # into the gopher filter in ONE uncached pass over the corpus.
    # r14: the three stage caches are stage_pin, not .cache() — a
    # cached plan is compiled WITHOUT AQE output
    # coalescing (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
    # defaults false), so each id-list landed on the static 32 shuffle
    # partitions and every count/broadcast over it scheduled 32
    # near-empty tasks (three 32-task stages, ~0.2 cpu-s against
    # ~1.3 s rt each — plans/r14 stage profile). A checkpoint captures
    # the AQE-coalesced output (1-2 partitions here, byte-sized at any
    # scale); values are unchanged.
    dup_drop = stage_pin(dup_drop_ids(sh_raw, n_docs))
    n_dedup = n_docs - dup_drop.count()

    # stage 2 — quality: the Gopher battery's keep decision. Once the
    # gopher predicate has evaluated, NOTHING downstream needs text —
    # decontam joins on doc_id, the mixture draw reads (doc_id,
    # source), and the funnel reports counts — so the cached survivor
    # frames hold only (doc_id, source). At 100 TB that is the
    # difference between caching the corpus and caching an id list.
    quality = stage_pin(
        docs.join(dup_drop, "doc_id", "left_anti")
        .filter(gopher_keep(F.col("text")))
        .select("doc_id", "source")
    )

    # stage 3 — decontamination: the held-out fold leaves the corpus,
    # and any training doc sharing one DECONTAM_SHINGLE_K-gram with it
    # is dropped as leaked. The eval shingle set comes from the RAW
    # docs' eval fold, not the post-quality frame: an eval doc that
    # dedup or the Gopher gate happened to drop must still decontaminate
    # the training set — real pipelines screen against the full held-out
    # set regardless of training-side filters (ADVICE r3).
    is_eval = F.col("doc_id") % EVAL_FOLD_MOD == 0
    # both decontam legs re-slice the checkpointed shingle frame
    # instead of re-tokenizing: the eval set by fold filter, the
    # training-survivor shingles by a doc_id semi-join against the
    # post-quality survivors
    eval_sh = sh_raw.filter(is_eval).select("s").distinct()
    leaked = (
        sh_raw.filter(~is_eval)
        .join(quality.select("doc_id"), "doc_id", "left_semi")
        .join(eval_sh, "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = stage_pin(
        quality.filter(~is_eval)
        .join(leaked, "doc_id", "left_anti")
    )

    # stage 4 — mixture freeze: per-source md5-threshold sampling at
    # q_mix_weighted's configured rates
    thr = F.lit(mix_threshold_hex(MIX_DEFAULT_WEIGHT))
    for src, wgt in MIX_WEIGHTS.items():
        thr = F.when(F.col("source") == src, F.lit(mix_threshold_hex(wgt))).otherwise(
            thr
        )
    h8 = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8)
    mixed = clean.filter(h8 < thr)

    # Counts are driver-side actions on the pinned id frames; the
    # division stays in a Spark expression so keep_frac rounds HALF_UP
    # exactly like the DuckDB oracle (Python round() is banker's — a
    # silent oracle mismatch at .00005 boundaries).
    counts = [
        ("1_dedup_near", n_docs, n_dedup),
        ("2_quality", n_dedup, quality.count()),
    ]
    counts.append(("3_decontam", counts[-1][2], clean.count()))
    counts.append(("4_mix", counts[-1][2], mixed.count()))
    # keep_frac guards the empty-stage denominator (r13): a corpus
    # whose quality gate drops EVERYTHING hands stage 3 rows_in = 0,
    # and under ANSI 0/0 is an error, not NULL. The old pickled-RDD
    # relation hid this — count() pruned the projection before it
    # evaluated — but the LocalRelation form constant-folds the
    # projection at optimization time, so the division runs for ANY
    # action. NULL is the honest value for "no rows entered".
    return local_df(
        spark, counts, "stage string, rows_in long, rows_out long"
    ).select(
        "stage",
        "rows_in",
        "rows_out",
        F.round(
            F.when(F.col("rows_in") > 0, F.col("rows_out") / F.col("rows_in")),
            4,
        ).alias("keep_frac"),
    )
