"""DuckDB oracles + invariants for the quality-filter family
(operators/quality.py). These queries are SQL-expressible but register
rows-only, so their set-equality oracles run here."""

from __future__ import annotations

import duckdb

from ai_ready_data_framework_spark.functions.fixedmath import ln_pos_sql
from ai_ready_data_framework_spark.io import table_path
from ai_ready_data_framework_spark.operators import quality as Q
from ai_ready_data_framework_spark.registry import QUERIES


def _docs(sf: str) -> str:
    return table_path(sf, "documents")


def test_quality_gopher_matches_duckdb_oracle(spark, sf_correctness):
    sql = f"""
        WITH w AS (
            SELECT doc_id, text, string_split(text, ' ') AS words
            FROM read_parquet('{_docs(sf_correctness)}')
        ),
        m AS (
            SELECT doc_id,
                   CAST(len(words) AS BIGINT) AS n_words,
                   ROUND((length(text) - (len(words) - 1)) / len(words), 4)
                       AS mean_word_len,
                   CAST(len(list_filter(words, x -> x IN ('the', 'a'))) AS BIGINT)
                       AS stop_hits,
                   ROUND(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                         / greatest(length(text), 1), 4) AS symbol_ratio,
                   ROUND(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                         / greatest(len(words), 1), 4) AS alpha_word_frac
            FROM w
        )
        SELECT *,
               n_words BETWEEN {Q.GOPHER_MIN_WORDS} AND {Q.GOPHER_MAX_WORDS}
                   AS pass_words,
               mean_word_len BETWEEN {Q.GOPHER_MIN_MEAN_WORD_LEN}
                   AND {Q.GOPHER_MAX_MEAN_WORD_LEN} AS pass_mean_len,
               stop_hits >= {Q.GOPHER_MIN_STOP_HITS} AS pass_stop,
               symbol_ratio <= {Q.GOPHER_MAX_SYMBOL_RATIO} AS pass_symbol,
               alpha_word_frac >= {Q.GOPHER_MIN_ALPHA_WORD_FRAC} AS pass_alpha,
               (n_words BETWEEN {Q.GOPHER_MIN_WORDS} AND {Q.GOPHER_MAX_WORDS})
                   AND (mean_word_len BETWEEN {Q.GOPHER_MIN_MEAN_WORD_LEN}
                        AND {Q.GOPHER_MAX_MEAN_WORD_LEN})
                   AND stop_hits >= {Q.GOPHER_MIN_STOP_HITS}
                   AND symbol_ratio <= {Q.GOPHER_MAX_SYMBOL_RATIO}
                   AND alpha_word_frac >= {Q.GOPHER_MIN_ALPHA_WORD_FRAC} AS keep
        FROM m
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_quality_gopher"](spark, sf_correctness).collect()
    got = {tuple(r) for r in rows}
    assert got == expected
    # every rule must discriminate on this corpus: both outcomes present
    keeps = [r.keep for r in rows]
    assert any(keeps) and not all(keeps)
    assert any(not r.pass_words for r in rows)
    assert any(not r.pass_stop for r in rows)


def test_repetition_matches_duckdb_oracle(spark, sf_correctness):
    k = Q.REP_NGRAM_K
    sql = f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words
            FROM read_parquet('{_docs(sf_correctness)}')
        ),
        sh AS (
            SELECT doc_id,
                   [array_to_string(words[i : i + {k - 1}], ' ')
                    for i in range(1, greatest(len(words) - {k - 1}, 1) + 1)]
                       AS grams
            FROM w
        )
        SELECT doc_id,
               CAST(len(grams) AS BIGINT) AS n_ngrams,
               CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_ngrams,
               ROUND((len(grams) - len(list_distinct(grams)))
                     / greatest(len(grams), 1), 4) AS dup_ngram_frac
        FROM sh
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_repetition"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    # word-soup over a tiny vocabulary MUST show some repetition
    assert any(r.dup_ngram_frac > 0 for r in rows)
    assert all(0.0 <= r.dup_ngram_frac < 1.0 for r in rows)


def test_heavy_hitters_matches_duckdb_oracle(spark, sf_correctness):
    sql = f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM read_parquet('{_docs(sf_correctness)}')
        ),
        counts AS (
            SELECT term, COUNT(*) AS occurrences,
                   COUNT(DISTINCT doc_id) AS doc_freq
            FROM tok GROUP BY 1
        ),
        tot AS (SELECT COUNT(*) AS total FROM tok)
        SELECT CAST(row_number() OVER (ORDER BY occurrences DESC, term)
                    AS BIGINT) AS rank,
               term, occurrences, doc_freq,
               ROUND(occurrences / total, 6) AS share
        FROM counts, tot
        QUALIFY rank <= {Q.HEAVY_HITTERS_K}
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_heavy_hitters"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    assert len(rows) == Q.HEAVY_HITTERS_K
    # ranks are a contiguous 1..K permutation, shares sum below 1
    assert sorted(r.rank for r in rows) == list(range(1, Q.HEAVY_HITTERS_K + 1))
    assert sum(r.share for r in rows) < 1.0


def test_pii_redact_matches_duckdb_oracle(spark, sf_correctness):
    cust = table_path(sf_correctness, "customer")
    sql = f"""
        WITH n AS (
            SELECT c_custkey,
                   'contact c' || CAST(c_custkey AS VARCHAR) || '@example.org'
                   || ' tel '
                   || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                   || ' segment ' || lower(c_mktsegment) AS note
            FROM read_parquet('{cust}')
        )
        SELECT c_custkey,
               CAST(len(regexp_extract_all(note, '{Q.PII_EMAIL_RE}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(note, '{Q.PII_PHONE_RE}')) AS BIGINT)
                   AS n_phones,
               regexp_replace(
                   regexp_replace(note, '{Q.PII_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{Q.PII_PHONE_RE}', '<PHONE>', 'g') AS redacted
        FROM n
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_pii_redact"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    # redaction is complete: no raw email/phone survives in any row
    assert all("@example.org" not in r.redacted for r in rows)
    assert all(r.n_emails == 1 and r.n_phones == 1 for r in rows)
    assert all("<EMAIL>" in r.redacted and "<PHONE>" in r.redacted for r in rows)


def test_perplexity_matches_duckdb_oracle(spark, sf_correctness):
    """Bigram-LM perplexity: identical (doc, n_bigrams, avg_logp,
    perplexity) from both engines under the same add-1-smoothed corpus
    model — exact equality since the r7 PPL_NANO integer restatement
    (the same SQL q_text_quality's graded union interpolates)."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{_docs(sf_correctness)}')"
    )
    expected = {
        tuple(r)
        for r in con.execute(Q.PERPLEXITY_NANO_ORACLE_SQL).fetchall()
    }
    rows = QUERIES["q_perplexity"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    # perplexity must vary across docs (a constant score filters nothing)
    ppls = {r.perplexity for r in rows}
    assert len(ppls) > 10
    assert all(r.perplexity > 1.0 for r in rows)


def test_perplexity_values_clear_rounding_boundaries(spark, sf_correctness):
    """Flap-proofing for q_text_quality's hash-graded perplexity leg
    (the entropy-leg pattern): cross-engine ln() drift moves the
    nano-quantized per-doc sum by at most 1 nano per (doc, bigram) row
    — ≤ n_bigrams nano-nats, i.e. ≤ 1e-9 in avg_logp and ~|ppl|·1e-9
    in exp(-avg). Assert every unrounded fixture value clears the
    x.xxxx5 half-way boundary by orders of magnitude more."""
    from pyspark.sql import functions as F

    from ai_ready_data_framework_spark.functions import text as T
    from ai_ready_data_framework_spark.io import load_table
    from ai_ready_data_framework_spark.operators.quality import (
        LM_SMOOTH_K,
        PPL_NANO,
    )

    # recompute the UNROUNDED avg/ppl from the same integer sufficient
    # statistics the operator aggregates (the entropy-test pattern —
    # measuring on the rounded outputs would be circular)
    docs = load_table(spark, sf_correctness, "documents")
    grams = docs.select(
        "doc_id", F.explode(T.shingles(T.tokens("text"), 2)).alias("bg")
    ).filter(F.size(F.split("bg", " ")) == 2)
    tf = grams.groupBy("doc_id", "bg").agg(F.count("*").alias("tf"))
    bg_counts = tf.groupBy("bg").agg(F.sum("tf").alias("c_bg"))
    prefix = (
        bg_counts.withColumn("w1", F.split("bg", " ")[0])
        .groupBy("w1")
        .agg(F.sum("c_bg").alias("c_prefix"))
    )
    vocab = prefix.agg(F.count("*").alias("v"))
    logp = F.log(
        (F.col("c_bg") + LM_SMOOTH_K)
        / (F.col("c_prefix") + LM_SMOOTH_K * F.col("v"))
    )
    nano = F.floor(F.col("tf") * logp * F.lit(PPL_NANO)).cast("long")
    per_doc = (
        tf.join(F.broadcast(bg_counts), "bg")
        .withColumn("w1", F.split("bg", " ")[0])
        .join(F.broadcast(prefix), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("n"), F.sum(nano).alias("s_nano"))
    )
    avg = (F.col("s_nano") / F.lit(PPL_NANO)) / F.col("n")
    ppl = F.exp(-avg)

    def boundary_dist(col):
        scaled = col * 10000
        frac = scaled - F.floor(scaled)
        return F.abs(frac - 0.5)

    row = per_doc.select(
        F.min(boundary_dist(avg)).alias("da"),
        F.min(boundary_dist(ppl)).alias("dp"),
    ).collect()[0]
    # distances are in rounded-digit units: drift ≤ n nano-nats on a
    # sum divided by n → ≤ 1e-9 in avg (1e-5 scaled) and ~ppl·1e-9 in
    # the exp (≤ ~1e-4 scaled at fixture ppl ≤ 12). Require 2x.
    assert row.da > 2e-5, row
    assert row.dp > 2e-4, row


def test_quality_classifier_separates_and_is_deterministic(spark, sf_smoke):
    """q_quality_classifier has no ANSI oracle (fitted LBFGS model);
    its contract: scores in [0,1], the model separates its own weak
    labels (mean p_keep of keep-docs above drop-docs), never worse
    than the trivial majority classifier, and rerunning the fit
    reproduces the same scores."""
    rows = QUERIES["q_quality_classifier"](spark, sf_smoke).collect()
    assert rows
    assert all(0.0 <= r.p_keep <= 1.0 for r in rows)
    keep = [r.p_keep for r in rows if r.label == 1]
    drop = [r.p_keep for r in rows if r.label == 0]
    assert keep and drop, "gopher labels must have both classes"
    assert sum(keep) / len(keep) > sum(drop) / len(drop) + 0.05
    acc = sum(1 for r in rows if r.predicted == r.label) / len(rows)
    majority = max(len(keep), len(drop)) / len(rows)
    assert acc >= majority - 0.02, (acc, majority)
    again = QUERIES["q_quality_classifier"](spark, sf_smoke).collect()
    assert {(r.doc_id, round(r.p_keep, 4)) for r in rows} == {
        (r.doc_id, round(r.p_keep, 4)) for r in again
    }


def test_dp_counts_matches_duckdb_oracle(spark, sf_correctness):
    """DP count release: DuckDB reproduces the md5-derived uniform, the
    Laplace inverse-CDF noise, and the clamped release bit-for-bit;
    plus mechanism invariants — mean |noise| near the Laplace scale
    1/eps, and the release never goes negative."""
    eps = Q.DP_EPSILON
    mod = Q.DP_HASH_MOD
    sql = f"""
        WITH counts AS (
            SELECT c_nationkey, c_mktsegment, COUNT(*) AS true_n
            FROM read_parquet('{table_path(sf_correctness, "customer")}')
            GROUP BY 1, 2
        ),
        noised AS (
            SELECT *,
                   (CAST(concat('0x', substring(md5(
                        concat(CAST(c_nationkey AS VARCHAR), '|', c_mktsegment)
                    ), 1, 8)) AS UBIGINT) + 0.5) / {mod} AS u
            FROM counts
        )
        SELECT c_nationkey, c_mktsegment, true_n,
               ROUND(-(1.0/{eps}) * sign(u - 0.5) * __dp_ln, 4)
                   AS noise,
               GREATEST(CAST(ROUND(true_n
                   - (1.0/{eps}) * sign(u - 0.5) * __dp_ln)
                   AS BIGINT), 0) AS released_n
        FROM {ln_pos_sql("SELECT * FROM noised", Q.DP_LN_SPECS)} dl
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_dp_counts"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    assert all(r.released_n >= 0 for r in rows)
    mean_abs = sum(abs(r.noise) for r in rows) / len(rows)
    # E|Laplace(1/eps)| = 1/eps; wide tolerance for the small sample
    assert 0.2 / eps < mean_abs < 5.0 / eps, mean_abs


def test_quality_classifier_fit_is_sample_bounded(spark, sf_smoke, monkeypatch):
    """The LBFGS fit input is the deterministic modulo sample, never
    the corpus (VERDICT r4 #3): with QC_FIT_SAMPLE forced tiny the
    query must still score EVERY document (one row per doc) while the
    fit sees <= ~2x the bound (modulo stepping is approximate), and
    scores stay deterministic."""
    from pyspark.ml.classification import LogisticRegression

    seen = {}
    orig_fit = LogisticRegression.fit

    def spy_fit(self, dataset, *a, **kw):
        seen["n_fit_rows"] = dataset.count()
        return orig_fit(self, dataset, *a, **kw)

    monkeypatch.setattr(LogisticRegression, "fit", spy_fit)
    monkeypatch.setattr(Q, "QC_FIT_SAMPLE", 64)
    rows = QUERIES["q_quality_classifier"](spark, sf_smoke).collect()
    n_docs = (
        spark.read.parquet(_docs(sf_smoke)).count()
    )
    assert len(rows) == n_docs, "scoring pass must cover the corpus"
    assert 0 < seen["n_fit_rows"] <= 2 * 64, seen
    assert seen["n_fit_rows"] < n_docs, "fit must not see the corpus"
    again = QUERIES["q_quality_classifier"](spark, sf_smoke).collect()
    assert {(r.doc_id, r.p_keep) for r in rows} == {
        (r.doc_id, r.p_keep) for r in again
    }


def test_token_union_tiny_vocab(spark, tmp_path):
    """q_token_bpe's graded union on a corpus with FEWER distinct terms
    than HEAVY_HITTERS_K and some below the min-count prune: the
    heavy_hitter leg must emit only surviving terms (< K rows) and the
    registered union oracle must agree exactly — the edge the fixture
    corpus (vocab > K, all counts >= 5) never exercises."""
    from ai_ready_data_framework_spark.operators.ai import (
        _token_profile_union_oracle_sql,
    )

    rows = [
        (0, "alpha alpha beta", "en", "s1", 16),
        (1, "alpha gamma", "en", "s1", 11),
        (2, "beta beta", "en", "s2", 9),
        (3, "solo", "en", "s2", 4),  # 'solo' and 'gamma' prune out
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        tuple(r) for r in QUERIES["q_token_bpe"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    expected = {
        tuple(r) for r in con.execute(_token_profile_union_oracle_sql()).fetchall()
    }
    assert got == expected
    hh = {r for r in got if r[0] == "heavy_hitter"}
    assert {r[1] for r in hh} == {"alpha", "beta"}  # pruned: gamma, solo
    assert len(hh) < Q.HEAVY_HITTERS_K


def test_quality_compress_matches_python_zlib(spark, sf_correctness):
    """Exact oracle: the pandas-UDF path must produce byte-for-byte the
    lengths the local stdlib zlib produces at the pinned level (same
    deflate library, same level, same machine)."""
    import zlib

    from ai_ready_data_framework_spark.functions.udx import COMPRESS_LEVEL

    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet("
        f"'{table_path(sf_correctness, 'documents')}')"
    ).fetchall()
    expected = {
        (
            d,
            len(t.encode("utf-8")),
            len(zlib.compress(t.encode("utf-8"), COMPRESS_LEVEL)),
            round(
                len(zlib.compress(t.encode("utf-8"), COMPRESS_LEVEL))
                / max(len(t.encode("utf-8")), 1),
                4,
            ),
        )
        for d, t in rows
    }
    got = {
        (r.doc_id, r.raw_bytes, r.compressed_bytes, r.compress_ratio)
        for r in QUERIES["q_quality_compress"](spark, sf_correctness)
        .collect()
    }
    assert got == expected


def test_compress_ratio_orders_repetitive_below_diverse(spark):
    """The signal's point: boilerplate compresses far below diverse
    prose, so the ratio separates them."""
    import os
    import tempfile

    rep = "spam ham " * 200
    div = " ".join(f"w{i}x{i * 7 % 13}" for i in range(400))
    df = spark.createDataFrame(
        [(1, rep), (2, div)], "doc_id long, text string"
    )
    # the declared query loads from an sf_dir, so land the planted
    # frame as a documents table in a temp dir
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {
        r.doc_id: r.compress_ratio
        for r in QUERIES["q_quality_compress"](spark, d).collect()
    }
    assert out[1] < 0.1 < out[2]
