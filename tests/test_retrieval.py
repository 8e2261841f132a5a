"""DuckDB oracles for the retrieval family (BM25, hybrid RRF), split
assignment, and the round-2 relational stats ops (anomaly z-score,
histogram, skew join). All SQL-expressible but registered rows-only,
so their DuckDB oracles run here."""

from __future__ import annotations

import duckdb

from ai_ready_data_framework_spark.io import table_path
from ai_ready_data_framework_spark.operators import ai
from ai_ready_data_framework_spark.operators import relational as rel
from ai_ready_data_framework_spark.registry import QUERIES


def _bm25_sql(sf: str, limit: int) -> str:
    terms = ", ".join(f"'{t}'" for t in ai.BM25_QUERY_TERMS)
    return f"""
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS words,
                   len(string_split(text, ' ')) AS dl
            FROM read_parquet('{table_path(sf, "documents")}')
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
            FROM base
        ),
        tok AS (
            SELECT doc_id, dl, unnest(words) AS term FROM base
        ),
        tf AS (
            SELECT doc_id, dl, term, COUNT(*) AS tf
            FROM tok WHERE term IN ({terms})
            GROUP BY 1, 2, 3
        ),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
        SELECT doc_id,
               ROUND(SUM(
                   ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * tf.tf * ({ai.BM25_K1} + 1.0)
                     / (tf.tf + {ai.BM25_K1}
                        * (1.0 - {ai.BM25_B} + {ai.BM25_B} * tf.dl / s.avgdl))
               ), 4) AS bm25
        FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT {limit}
    """


def test_bm25_matches_duckdb_oracle(spark, sf_correctness):
    sql = _bm25_sql(sf_correctness, ai.RETRIEVAL_TOP_K)
    expected = [tuple(r) for r in duckdb.connect().execute(sql).fetchall()]
    rows = QUERIES["q_bm25"](spark, sf_correctness).collect()
    # ORDER + values must both match (ranking operator)
    assert [tuple(r) for r in rows] == expected
    assert len(rows) == ai.RETRIEVAL_TOP_K
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_hybrid_rrf_matches_duckdb_oracle(spark, sf_correctness):
    e = table_path(sf_correctness, "embeddings")
    sql = f"""
        WITH bm AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                        AS BIGINT) AS rank_bm25
            FROM ({_bm25_sql(sf_correctness, ai.RETRIEVAL_CANDIDATES)})
        ),
        q AS (SELECT embedding AS qv FROM read_parquet('{e}') WHERE vec_id = 0),
        cos AS (
            SELECT vec_id AS doc_id,
                   ROUND(list_dot_product(embedding, q.qv)
                         / (sqrt(list_dot_product(embedding, embedding))
                            * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
            FROM read_parquet('{e}'), q
            WHERE vec_id <> 0
            ORDER BY cosine DESC, doc_id
            LIMIT {ai.RETRIEVAL_CANDIDATES}
        ),
        cr AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
                        AS BIGINT) AS rank_cos
            FROM cos
        )
        SELECT doc_id,
               ROUND(COALESCE(1.0 / ({ai.RRF_K} + rank_bm25), 0)
                     + COALESCE(1.0 / ({ai.RRF_K} + rank_cos), 0), 6) AS rrf,
               rank_bm25, rank_cos
        FROM bm FULL OUTER JOIN cr USING (doc_id)
        ORDER BY rrf DESC, doc_id
        LIMIT {ai.RETRIEVAL_TOP_K}
    """
    expected = [tuple(r) for r in duckdb.connect().execute(sql).fetchall()]
    rows = QUERIES["q_hybrid_rrf"](spark, sf_correctness).collect()
    assert [tuple(r) for r in rows] == expected
    # fusion must actually draw from both arms
    assert any(r.rank_bm25 is not None for r in rows)
    assert any(r.rank_cos is not None for r in rows)


def test_split_assign_matches_duckdb_oracle(spark, sf_correctness):
    thr_train = ai.mix_threshold_hex(ai.SPLIT_TRAIN_FRAC)
    thr_val = ai.mix_threshold_hex(ai.SPLIT_TRAIN_FRAC + ai.SPLIT_VAL_FRAC)
    sql = f"""
        SELECT doc_id, source,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         < '{thr_train}' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         < '{thr_val}' THEN 'val'
                    ELSE 'test' END AS split
        FROM read_parquet('{table_path(sf_correctness, "documents")}')
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_split_assign"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    # partition: every doc in exactly one split, fractions near 80/10/10
    n = len(rows)
    by = {}
    for r in rows:
        by[r.split] = by.get(r.split, 0) + 1
    assert set(by) == {"train", "val", "test"}
    assert abs(by["train"] / n - 0.8) < 0.06


def test_anomaly_zscore_matches_duckdb_oracle(spark, sf_correctness):
    """Exact (tolerance-free) set equality: the integer-milli
    restatement (VERDICT r6 #1) makes every cross-partition aggregate
    an exact integer sum and every float derivation IEEE-exact, so the
    engines must agree bitwise — this is the property that lets the
    zscore leg ride q_window_lag's hash-graded union."""
    ev = table_path(sf_correctness, "events")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{ev}')")
    sql = f"""
        WITH {rel.ZSCORE_MILLI_ORACLE_CTE}
        SELECT event_id, event_type, value, ROUND(z, 4) AS z
        FROM zrows WHERE abs(z) > {rel.ZSCORE_THRESHOLD}
    """
    expected = {tuple(r) for r in con.execute(sql).fetchall()}
    rows = QUERIES["q_anomaly_zscore"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    assert 0 < len(rows) < 1000  # anomalies exist and are rare
    # no rounded z may sit within float-drift range of the |z|>3 gate
    # or of a 4-decimal rounding boundary (flap-proofing evidence: a
    # 1-ulp cross-engine difference could only flip a value this close)
    for r in rows:
        assert abs(abs(r.z) - rel.ZSCORE_THRESHOLD) > 1e-6


def test_histogram_matches_duckdb_oracle(spark, sf_correctness):
    o = table_path(sf_correctness, "orders")
    b = rel.HIST_BUCKETS
    sql = f"""
        WITH s AS (
            SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
            FROM read_parquet('{o}')
        ),
        bk AS (
            SELECT CAST(LEAST(FLOOR((o_totalprice - lo) / ((hi - lo) / {b})),
                              {b - 1}) AS BIGINT) AS bucket,
                   lo, hi
            FROM read_parquet('{o}'), s
        )
        SELECT bucket,
               ROUND(lo + bucket * ((hi - lo) / {b}), 4) AS bucket_lo,
               COUNT(*) AS n_orders
        FROM bk GROUP BY 1, 2
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_histogram"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    assert sum(r.n_orders for r in rows) == 15000  # every order bucketed


def test_join_skew_matches_duckdb_oracle(spark, sf_correctness):
    li, o = table_path(sf_correctness, "lineitem"), table_path(
        sf_correctness, "orders"
    )
    sql = f"""
        SELECT l_returnflag, o_orderstatus,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                   / 100.0 AS sum_price
        FROM read_parquet('{li}') l
        JOIN read_parquet('{o}') x ON l.l_orderkey = x.o_orderkey
        GROUP BY 1, 2
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_join_skew"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    assert len(rows) > 0


def test_feature_bins_matches_duckdb_oracle(spark, sf_correctness):
    o = table_path(sf_correctness, "orders")
    sql = f"""
        WITH bounds AS (
            SELECT o_orderpriority,
                   ROUND(quantile_cont(o_totalprice, 0.25), 4) AS q1,
                   ROUND(quantile_cont(o_totalprice, 0.50), 4) AS q2,
                   ROUND(quantile_cont(o_totalprice, 0.75), 4) AS q3
            FROM read_parquet('{o}') GROUP BY 1
        )
        SELECT o_orderpriority,
               CAST(CASE WHEN o_totalprice <= q1 THEN 0
                         WHEN o_totalprice <= q2 THEN 1
                         WHEN o_totalprice <= q3 THEN 2
                         ELSE 3 END AS BIGINT) AS bin,
               COUNT(*) AS n_orders,
               ROUND(MIN(o_totalprice), 4) AS min_price,
               ROUND(MAX(o_totalprice), 4) AS max_price
        FROM read_parquet('{o}') JOIN bounds USING (o_orderpriority)
        GROUP BY 1, 2
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_feature_bins"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    # quartile bins are balanced within each group (25% +- a few ties)
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r.o_orderpriority, []).append(r.n_orders)
    for g, counts in by_grp.items():
        assert len(counts) == 4, (g, counts)
        assert max(counts) <= 1.2 * min(counts), (g, counts)


def test_split_leakage_safe_matches_duckdb_oracle(spark, sf_correctness):
    """Leakage-safe split union: DuckDB recomputes BOTH legs via the
    registered union oracle; beyond set equality, no text hash may span
    two splits in the dup_group leg (the invariant the doc_hash leg
    cannot give), and the doc_hash leg must equal q_split_assign."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{table_path(sf_correctness, 'documents')}')"
    )
    expected = {
        tuple(r)
        for r in con.execute(ai._split_union_oracle_sql()).fetchall()
    }
    rows = QUERIES["q_split_leakage_safe"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    # zero leakage: all members of a dup group share one split
    by_group = {}
    for r in rows:
        if r.split_kind == "dup_group":
            by_group.setdefault(r.group_rep, set()).add(r.split)
    assert all(len(s) == 1 for s in by_group.values())
    # the doc_hash leg IS q_split_assign (plus the truthful singleton
    # group_rep)
    assign = {
        (r.doc_id, r.source, r.split)
        for r in QUERIES["q_split_assign"](spark, sf_correctness).collect()
    }
    doc_leg = {
        (r.doc_id, r.source, r.split)
        for r in rows
        if r.split_kind == "doc_hash"
    }
    assert doc_leg == assign
    # fractions still near 80/10/10 (group draw is uniform)
    dup = [r for r in rows if r.split_kind == "dup_group"]
    n_train = sum(1 for r in dup if r.split == "train")
    assert abs(n_train / len(dup) - 0.8) < 0.08


def test_split_cluster_safe_invariants(spark, sf_correctness):
    """Cluster-atomic split: no near-dup cluster may straddle splits,
    singletons keep their own deterministic draw (matching
    q_split_leakage_safe's group draw for the same group_rep), and
    fractions stay near 80/10/10."""
    rows = QUERIES["q_split_cluster_safe"](spark, sf_correctness).collect()
    clusters = QUERIES["q_dedup_clusters"](spark, sf_correctness).collect()
    split_of = {r.doc_id: r.split for r in rows}
    group_of = {r.doc_id: r.group_rep for r in rows}
    n_clustered = 0
    for c in clusters:
        splits = {split_of[m] for m in c.members}
        assert len(splits) == 1, (c.keep_doc_id, splits)
        # one atomic group per n-gram cluster (its rep may be SMALLER
        # than the n-gram keep_doc_id when a round-5 semantic edge
        # merges components — identity within the cluster is what
        # leakage-safety needs)
        assert len({group_of[m] for m in c.members}) == 1
        n_clustered += len(c.members)
    assert n_clustered > 0, "fixture should contain near-dup clusters"
    # round 5: SEMANTIC near-dup pairs are split-atomic too — the
    # cross-operator draw-consistency extension to the capped semantic
    # cluster key (VERDICT r4 #6)
    from ai_ready_data_framework_spark.operators.ai import (
        semantic_cluster_assign,
        semantic_dup_pairs,
    )

    sem_pairs = semantic_dup_pairs(
        semantic_cluster_assign(spark, sf_correctness)
    ).collect()
    assert sem_pairs, "fixture should contain semantic dup pairs"
    for p in sem_pairs:
        assert split_of[p.id_a] == split_of[p.id_b], p
        assert group_of[p.id_a] == group_of[p.id_b], p
    n = len(rows)
    n_train = sum(1 for r in rows if r.split == "train")
    assert abs(n_train / n - 0.8) < 0.08
    # same draw rule as the exact-dup variant: identical group_rep ->
    # identical split across the two operators
    leak_rows = QUERIES["q_split_leakage_safe"](spark, sf_correctness).collect()
    draw = {r.group_rep: r.split for r in leak_rows}
    for r in rows:
        if r.group_rep in draw:
            assert r.split == draw[r.group_rep]


def test_mix_schedule_matches_duckdb_oracle(spark, sf_correctness):
    """Interleave schedule: DuckDB recomputes the md5 within-source
    shuffle rank and progress fraction; plus the interleave property —
    every source's docs are spread across the epoch (max progress gap
    within a source is ~1/n, not a block)."""
    sql = f"""
        WITH ranked AS (
            SELECT doc_id, source,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS BIGINT) AS rank_in_source,
                   COUNT(*) OVER (PARTITION BY source) AS n
            FROM read_parquet('{table_path(sf_correctness, "documents")}')
        )
        SELECT doc_id, source, rank_in_source,
               ROUND((rank_in_source - 0.5) / n, 6) AS progress
        FROM ranked
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_mix_schedule"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    # interleave property: each source occupies [0, 1] nearly uniformly
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.progress)
    for src, ps in by_src.items():
        ps = sorted(ps)
        assert ps[0] < 0.5 and ps[-1] > 0.5, src
        gaps = [b - a for a, b in zip(ps, ps[1:])]
        if gaps:
            assert max(gaps) <= 3.0 / len(ps), src


def test_length_buckets_matches_duckdb_oracle(spark, sf_correctness):
    lo, hi = ai.LEN_BUCKET_MIN, ai.LEN_BUCKET_MAX
    sql = f"""
        WITH toks AS (
            SELECT doc_id,
                   LEAST(CAST(len(string_split(text, ' ')) AS BIGINT),
                         {hi}) AS n_tok
            FROM read_parquet('{table_path(sf_correctness, "documents")}')
        ),
        b AS (
            SELECT doc_id, n_tok,
                   CAST(POWER(2.0, CEIL(LOG2(CAST(LEAST(GREATEST(n_tok, {lo}), {hi}) AS DOUBLE)))) AS BIGINT) AS bucket
            FROM toks
        )
        SELECT 'bucketed' AS scheme, bucket,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
               CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
               ROUND(1 - CAST(SUM(n_tok) AS DOUBLE) / (COUNT(*) * bucket), 4) AS waste_frac
        FROM b GROUP BY bucket
        UNION ALL
        SELECT 'single_bucket', MAX(bucket),
               COUNT(*),
               CAST(SUM(n_tok) AS BIGINT),
               CAST(COUNT(*) * MAX(bucket) AS BIGINT),
               ROUND(1 - CAST(SUM(n_tok) AS DOUBLE) / (COUNT(*) * MAX(bucket)), 4)
        FROM b
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_length_buckets"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    # bucketing must beat the single-bucket baseline on waste
    by = {(r.scheme, r.bucket): r for r in rows}
    single = next(r for r in rows if r.scheme == "single_bucket")
    total_real = sum(r.real_tokens for r in rows if r.scheme == "bucketed")
    total_padded = sum(r.padded_tokens for r in rows if r.scheme == "bucketed")
    assert 1 - total_real / total_padded < single.waste_frac


def test_length_buckets_truncate_over_cap_docs(spark, tmp_path):
    """A doc longer than LEN_BUCKET_MAX truncates to the cap: waste
    stays non-negative and the padded count uses the cap bucket
    (regression: over-cap docs used to drive waste_frac negative)."""
    long_text = "w " * 5000
    spark.createDataFrame(
        [(1, long_text.strip(), "en", "s", len(long_text)),
         (2, "a b c d", "en", "s", 7)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = QUERIES["q_length_buckets"](spark, str(tmp_path)).collect()
    assert all(r.waste_frac >= 0 for r in rows), rows
    cap_row = next(
        r for r in rows if r.scheme == "bucketed" and r.bucket == ai.LEN_BUCKET_MAX
    )
    assert cap_row.real_tokens == ai.LEN_BUCKET_MAX  # truncated, not raw 5000


def test_length_buckets_exact_power_of_two_boundaries(spark, tmp_path):
    """The r7 hash-graded leg's raison d'être: a doc of EXACTLY 2^k
    tokens must land in the 2^k bucket, not 2^(k+1) — the
    pow(2, ceil(log2 x)) form puts these docs on a transcendental
    rounding boundary, the integer CASE chain cannot miss. One doc per
    cap plus one just above each cap (→ next bucket)."""
    docs = []
    did = 0
    for cap in ai.LEN_BUCKET_CAPS:
        did += 1
        docs.append((did, " ".join(["w"] * cap), "en", "s", 2 * cap))
        if cap < ai.LEN_BUCKET_MAX:
            did += 1
            docs.append((did, " ".join(["w"] * (cap + 1)), "en", "s", 2 * cap))
    spark.createDataFrame(
        docs,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = QUERIES["q_length_buckets"](spark, str(tmp_path)).collect()
    by_bucket = {
        r.bucket: r for r in rows if r.scheme == "bucketed"
    }
    caps = list(ai.LEN_BUCKET_CAPS)
    for i, cap in enumerate(caps):
        row = by_bucket[cap]
        # the exact-cap doc lands IN its own bucket (n_tok == cap) and
        # the cap+1 doc of the PREVIOUS cap also lands here
        expected_docs = 1 + (1 if i > 0 else 0)
        assert row.n_docs == expected_docs, (cap, row)
        # the exact-cap doc pads nothing; only the spill-over doc does
        expected_real = cap + (caps[i - 1] + 1 if i > 0 else 0)
        assert row.real_tokens == expected_real, (cap, row)
