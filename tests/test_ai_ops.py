"""Unit tests for AI/LLM operators: approx-vs-exact recall, sketch
determinism, multimodal plumbing, quality/lang functions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ai_ready_data_framework_spark.functions import text as T
from ai_ready_data_framework_spark.functions import vector as V
from ai_ready_data_framework_spark.io import load_table
from ai_ready_data_framework_spark.operators import ai, multimodal
from ai_ready_data_framework_spark.registry import QUERIES


def test_minhash_recall_vs_exact(spark, sf_smoke):
    """MinHashLSH (approx) must recover most exact n-gram near-dup
    pairs — the retrieval_recall_compliance pattern (check 19)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_ngram"](spark, sf_smoke).collect()
        if r.pair_kind == "jaccard"
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_near"](spark, sf_smoke).collect()
    }
    assert exact, "exact near-dup pairs expected in corpus"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall}"


def test_fuzzy_blocking_recall_vs_exact(spark, sf_smoke):
    """Blocked fuzzy matching (prefix + suffix passes) vs UNBLOCKED
    exact edit-distance pairs on a small slice: blocking must not drop
    true matches on this corpus (names share a long prefix, so the
    prefix pass alone already covers it — the test pins that the union
    + dedup machinery keeps recall at 1.0, not that blocking is
    universally lossless)."""
    cust = load_table(spark, sf_smoke, "customer").filter(
        F.col("c_custkey") <= 200
    )
    exact_pairs = (
        cust.alias("a")
        .crossJoin(cust.alias("b"))
        .filter(F.col("a.c_custkey") < F.col("b.c_custkey"))
        .select(
            F.col("a.c_custkey").alias("key_a"),
            F.col("b.c_custkey").alias("key_b"),
            F.levenshtein(
                F.upper("a.c_name"), F.upper("b.c_name")
            ).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= ai.FUZZY_MAX_EDIT)
    )
    exact = {(r.key_a, r.key_b) for r in exact_pairs.collect()}
    blocked = {
        (r.key_a, r.key_b)
        for r in ai.fuzzy_match_pairs(cust, "c_custkey", "c_name").collect()
    }
    assert exact, "exact fuzzy pairs expected in corpus slice"
    recall = len(exact & blocked) / len(exact)
    assert recall == 1.0, f"blocked fuzzy recall {recall}"
    # blocking is candidate-generation only: it must never ADD pairs
    assert blocked <= exact


def _union_find_components(pairs):
    """Driver-side oracle: classic union-find over the pair list,
    components labeled by their min member."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_vs_union_find(spark, sf_smoke):
    """Distributed label propagation must produce exactly the
    union-find partition of the near-dup pair graph."""
    from ai_ready_data_framework_spark.functions.graph import connected_components

    pairs_df = (
        QUERIES["q_dedup_ngram"](spark, sf_smoke)
        .filter(F.col("pair_kind") == "jaccard")
        .select("doc_a", "doc_b")
    )
    pairs = [(r.doc_a, r.doc_b) for r in pairs_df.collect()]
    assert pairs, "near-dup pairs expected in corpus"
    expected = _union_find_components(pairs)
    got = {
        r.node: r.component
        for r in connected_components(pairs_df, "doc_a", "doc_b").collect()
    }
    assert got == expected


def test_connected_components_chain_needs_iterations(spark):
    """A 10-node path graph forces multi-round propagation (diameter 9
    with labels flowing from the min end); plus a disjoint pair."""
    from ai_ready_data_framework_spark.functions.graph import connected_components

    edges = [(i, i + 1) for i in range(1, 10)] + [(20, 21)]
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {r.node: r.component for r in connected_components(df, "a", "b").collect()}
    assert all(got[i] == 1 for i in range(1, 11))
    assert got[20] == 20 and got[21] == 20


def test_dedup_clusters_consistent_with_pairs(spark, sf_smoke):
    """Every pair's two docs land in the same cluster; cluster sizes
    sum to the number of distinct docs appearing in any pair; each
    representative is its cluster's min member."""
    pairs = [
        r
        for r in QUERIES["q_dedup_ngram"](spark, sf_smoke).collect()
        if r.pair_kind == "jaccard"
    ]
    clusters = QUERIES["q_dedup_clusters"](spark, sf_smoke).collect()
    member_to_rep = {m: c.keep_doc_id for c in clusters for m in c.members}
    for p in pairs:
        assert member_to_rep[p.doc_a] == member_to_rep[p.doc_b]
    docs_in_pairs = {p.doc_a for p in pairs} | {p.doc_b for p in pairs}
    assert sum(c.cluster_size for c in clusters) == len(docs_in_pairs)
    for c in clusters:
        assert c.keep_doc_id == min(c.members)


def test_percentile_approx_tracks_exact(spark, sf_correctness):
    """q_agg_percentile_approx (sketch path) must track the exact
    per-group quantiles within 1% relative error. Runs at sf0.01: the
    sketch returns an actual data value while exact `percentile`
    interpolates, so tiny groups bound accuracy by value granularity,
    not sketch error."""
    exact = {
        r.o_orderpriority: r
        for r in QUERIES["q_agg_percentile"](spark, sf_correctness).collect()
    }
    approx = {
        r.o_orderpriority: r
        for r in QUERIES["q_agg_percentile_approx"](spark, sf_correctness).collect()
    }
    assert sorted(exact) == sorted(approx)
    for grp, e in exact.items():
        a = approx[grp]
        for col in ("p50_price", "p90_price", "p99_price"):
            ev, av = getattr(e, col), getattr(a, col)
            assert abs(av - ev) <= 0.01 * abs(ev), (grp, col, ev, av)
        assert e.n_orders == a.n_orders


def test_simhash_deterministic_and_bounded(spark, sf_smoke):
    a = QUERIES["q_dedup_simhash"](spark, sf_smoke).collect()
    b = QUERIES["q_dedup_simhash"](spark, sf_smoke).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for row in a:
        assert row.doc_a < row.doc_b
        assert 0 <= row.hamming <= 3


def test_tfidf_topterms_matches_duckdb_oracle(spark, sf_correctness):
    """q_tfidf_topterms is SQL-expressible but registers rows-only,
    so its DuckDB oracle runs here: identical (doc, term, score,
    rank) sets from both engines."""
    import duckdb

    from ai_ready_data_framework_spark.io import table_path

    sql = f"""
        WITH docs AS (
            SELECT * FROM read_parquet('{table_path(sf_correctness, "documents")}')
        ),
        tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dfreq AS (
            SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS corpus_tf
            FROM tf GROUP BY 1
        ),
        n AS (SELECT COUNT(*) AS n FROM docs),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   ROUND(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 4) AS score,
                   dfreq.corpus_tf
            FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, score, corpus_tf, rn FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term
            ) AS BIGINT) AS rn
            FROM scored
        ) WHERE rn <= {ai.TFIDF_TOP_K}
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    got = {
        (r.doc_id, r.term, r.score, r.corpus_tf, r.rn)
        for r in QUERIES["q_tfidf_topterms"](spark, sf_correctness).collect()
    }
    assert got == expected
    assert got, "tf-idf terms expected"


def test_tfidf_scores_clear_rounding_boundaries(spark, sf_correctness):
    """Flap-proofing evidence for q_token_bpe's hash-graded tfidf leg
    (the entropy-leg pattern): a cross-engine ln() ulp moves
    c * ln((N+1)/(df+1)) by <= |score| * 1.2e-16 (~1e-14 here), so a
    4-decimal flip — of the displayed score OR of the rank order —
    needs the unrounded value within that distance of a x.xxxx5
    half-way boundary. Assert every fixture score clears boundaries by
    orders of magnitude more."""
    from pyspark.sql import functions as F

    from ai_ready_data_framework_spark.io import load_table
    from ai_ready_data_framework_spark.operators.corpus import token_tf_frame

    docs = load_table(spark, sf_correctness, "documents")
    n_docs = docs.count()
    tf = token_tf_frame(docs)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    raw = F.col("c") * F.log((n_docs + 1.0) / (F.col("df") + 1.0))
    scaled = raw * 10000
    frac = scaled - F.floor(scaled)
    dist = F.abs(frac - 0.5)
    row = (
        tf.join(dfreq, "term").select(F.min(dist).alias("d")).collect()[0]
    )
    assert row.d > 1e-9, row  # drift bound is ~1e-10 in scaled units


def test_mix_weighted_matches_duckdb_oracle(spark, sf_correctness):
    """q_mix_weighted is SQL-expressible but registers rows-only,
    so its DuckDB oracle runs here: identical row set from both engines
    using the same per-source md5-prefix thresholds."""
    import duckdb

    from ai_ready_data_framework_spark.io import table_path

    case = " ".join(
        f"WHEN '{src}' THEN '{ai.mix_threshold_hex(w)}'"
        for src, w in ai.MIX_WEIGHTS.items()
    )
    sql = f"""
        SELECT doc_id, source, lang
        FROM read_parquet('{table_path(sf_correctness, "documents")}')
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
              CASE source {case}
                   ELSE '{ai.mix_threshold_hex(ai.MIX_DEFAULT_WEIGHT)}' END
    """
    expected = {
        (r[0], r[1], r[2]) for r in duckdb.connect().execute(sql).fetchall()
    }
    got = {
        (r.doc_id, r.source, r.lang)
        for r in QUERIES["q_mix_weighted"](spark, sf_correctness).collect()
    }
    assert got == expected
    assert got, "weighted mix should select rows"
    # weighted sources must sample at clearly different achieved rates
    by_src = {}
    for _, src, _lang in got:
        by_src[src] = by_src.get(src, 0) + 1
    assert by_src.get("src0", 0) > by_src.get("src3", 0)


def test_pack_sequences_matches_greedy_oracle(spark, sf_smoke):
    """Distributed packing must equal a driver-side greedy first-fit
    over the same (source, shard) groups in the same order, and no
    pack may exceed the token budget."""
    chunk_rows = (
        QUERIES["q_chunk"](spark, sf_smoke)
        .join(
            load_table(spark, sf_smoke, "documents").select("doc_id", "source"),
            "doc_id",
        )
        .withColumn(
            "shard", F.pmod(F.xxhash64("doc_id"), F.lit(ai.PACK_SHARDS))
        )
        .collect()
    )
    groups = {}
    for r in sorted(chunk_rows, key=lambda r: (r.doc_id, r.chunk_id)):
        groups.setdefault((r.source, r.shard), []).append(r.n_chunk_tokens)
    expected = set()
    for (source, shard), tokens in groups.items():
        pid, cur_tokens, cur_chunks = 0, 0, 0
        for t in tokens:
            if cur_tokens + t > ai.PACK_TOKENS and cur_tokens > 0:
                expected.add((source, shard, pid, cur_chunks, cur_tokens))
                pid, cur_tokens, cur_chunks = pid + 1, 0, 0
            cur_tokens += t
            cur_chunks += 1
        expected.add((source, shard, pid, cur_chunks, cur_tokens))
    got_rows = QUERIES["q_pack_sequences"](spark, sf_smoke).collect()
    got = {
        (r.source, r.shard, r.pack_id, r.n_chunks, r.n_tokens) for r in got_rows
    }
    assert got == expected
    assert all(r.n_tokens <= ai.PACK_TOKENS for r in got_rows)
    assert all(0 < r.fill_ratio <= 1.0 for r in got_rows)


def test_embed_dup_lsh_recall_vs_exact(spark, sf_correctness):
    """SRP-banded embedding near-dup must recover most exact cosine
    pairs, and every emitted pair must be a true pair (the verify step
    is exact, so precision is 1.0 by construction). Runs at sf0.01
    where the exact set is non-trivial (14 pairs in r1's gate)."""
    exact = {
        (r.id_a, r.id_b)
        for r in ai.embed_dup_pairs(spark, sf_correctness).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in QUERIES["q_embed_dup_lsh"](spark, sf_correctness).collect()
    }
    assert exact, "exact embedding near-dup pairs expected"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"srp-lsh recall {recall}"
    assert approx <= exact, "verify step must make precision exact"


def test_fingerprint_winnow_matches_duckdb_oracle(spark, sf_correctness):
    """Winnowed fingerprint postings must be the identical
    (doc, hash) set as a DuckDB recomputation of positional shingle
    hashes + window-min + full-window filter."""
    import duckdb

    from ai_ready_data_framework_spark.io import table_path

    k = ai.SHINGLE_K
    sql = f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words
            FROM read_parquet('{table_path(sf_correctness, "documents")}')
        ),
        sh AS (
            SELECT doc_id, i,
                   md5(array_to_string(words[i : i + {k - 1}], ' ')) AS h
            FROM (
                SELECT doc_id, words,
                       unnest(range(1, greatest(len(words) - {k - 1}, 1) + 1)) AS i
                FROM w
            )
        ),
        sel AS (
            SELECT doc_id, i,
                   MIN(h) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN {ai.WINNOW_W - 1} PRECEDING AND CURRENT ROW
                   ) AS fp_hash
            FROM sh
        )
        SELECT DISTINCT doc_id, fp_hash FROM sel WHERE i >= {ai.WINNOW_W}
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    got = {
        (r.doc_id, r.fp_hash)
        for r in QUERIES["q_fingerprint_winnow"](spark, sf_correctness).collect()
    }
    assert got == expected
    assert got, "winnowed postings expected"


def test_embed_centroids_match_duckdb_oracle(spark, sf_correctness):
    """Per-label centroid means must match a DuckDB recomputation
    EXACTLY (r8, VERDICT r7 #3): the micro-unit integer restatement
    makes the per-position sums partition-order-invariant, the mean a
    fixed cast/divide chain on identical inputs, and the norm a
    left-fold over the rounded centroid (Spark F.aggregate seeds 0.0;
    DuckDB list_reduce seeds the first element — identical op
    sequences because 0.0 + x is exact)."""
    import duckdb

    from ai_ready_data_framework_spark.io import table_path

    sql = f"""
        WITH e AS (
            SELECT label, embedding
            FROM read_parquet('{table_path(sf_correctness, "embeddings")}')
        ),
        px AS (
            SELECT label, i AS pos,
                   CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                        AS BIGINT) AS q
            FROM e, unnest(range(1, len(embedding) + 1)) AS t(i)
        ),
        m AS (
            SELECT label, pos,
                   CAST(SUM(q) AS DOUBLE) / 1000000.0 / COUNT(*) AS m,
                   COUNT(*) AS cnt
            FROM px GROUP BY 1, 2
        ),
        c AS (
            SELECT label,
                   array_agg(ROUND(m, 4) ORDER BY pos) AS centroid,
                   CAST(MAX(cnt) AS BIGINT) AS n_vectors
            FROM m GROUP BY label
        )
        SELECT label, centroid, n_vectors,
               ROUND(sqrt(list_reduce(
                   list_transform(centroid, x -> x * x),
                   (acc, x) -> acc + x)), 4) AS centroid_norm
        FROM c
    """
    expected = {
        r[0]: (r[1], r[2], r[3])
        for r in duckdb.connect().execute(sql).fetchall()
    }
    got = QUERIES["q_embed_centroids"](spark, sf_correctness).collect()
    assert sorted(expected) == sorted(r.label for r in got)
    for r in got:
        exp_centroid, exp_n, exp_norm = expected[r.label]
        assert r.n_vectors == exp_n
        assert len(r.centroid) == len(exp_centroid) == 64
        assert list(r.centroid) == list(exp_centroid), r.label
        assert r.centroid_norm == exp_norm and r.centroid_norm > 0


def test_vector_ann_recall(spark, sf_smoke):
    """BRP-LSH approx neighbors vs brute-force L2 top-10 (same metric)."""
    emb = load_table(spark, sf_smoke, "embeddings")
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
    approx = {r.vec_id for r in QUERIES["q_vector_ann"](spark, sf_smoke).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"ann recall {recall}"


def test_vector_ivf_recall_and_shape(spark, sf_smoke):
    """IVF probe path vs brute-force cosine top-10 for the same query
    batch. Random embeddings are IVF's worst case; nprobe=4/16 must
    still beat random-candidate recall (~0.25) by a wide margin."""
    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.filter(F.col("vec_id") < ai.IVF_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact_rows = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id", V.cosine(F.col("q_emb"), F.col("embedding")).alias("c")
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("c"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rk") <= ai.IVF_TOPK)
        .collect()
    )
    exact: dict[int, set[int]] = {}
    for r in exact_rows:
        exact.setdefault(r.q_id, set()).add(r.vec_id)
    approx_rows = QUERIES["q_vector_ann_ivf"](spark, sf_smoke).collect()
    approx: dict[int, set[int]] = {}
    for r in approx_rows:
        approx.setdefault(r.q_id, set()).add(r.vec_id)
    assert set(approx) == set(exact), "every query must return candidates"
    recalls = [
        len(exact[qid] & approx.get(qid, set())) / len(exact[qid]) for qid in exact
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.4, f"ivf mean recall {mean_recall} ({recalls})"
    for r in approx_rows:
        assert 1 <= r.rk <= ai.IVF_TOPK


def test_multimodal_meta_shape(spark, sf_smoke):
    media = multimodal.synth_media(spark, sf_smoke)
    meta = multimodal.extract_metadata(media)
    rows = meta.collect()
    assert len(rows) == media.count()
    for r in rows[:20]:
        assert r.n_bytes > 0
        assert len(r.content_sha) == 64
        assert 16 <= r.width <= 255 and 16 <= r.height <= 255


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(b"\x89PNG")


def test_multimodal_frames_deterministic(spark, sf_smoke):
    a = QUERIES["q_multimodal_frames"](spark, sf_smoke).collect()
    b = QUERIES["q_multimodal_frames"](spark, sf_smoke).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert a, "video media expected"


def test_quality_score_bounds(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    vals = docs.select(T.quality_score("text").alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in vals)


def test_lang_id_known_phrases(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog of the house",),
            ("el que de los perros y de el gato",),
            ("ich mag der schnelle und ein schiff",),
        ],
        "text string",
    )
    out = [r.lang for r in df.select(T.lang_id("text").alias("lang")).collect()]
    assert out[0] == "en"
    assert out[1] == "es"
    assert out[2] == "de"
    # the generated DuckDB twin agrees phrase-by-phrase (the graded
    # q_text_stats lang_id leg depends on this equivalence)
    import duckdb

    con = duckdb.connect()
    phrases = [
        "the cat and the dog of the house",
        "el que de los perros y de el gato",
        "ich mag der schnelle und ein schiff",
    ]
    for phrase, want in zip(phrases, out):
        got = con.execute(
            "SELECT " + T.lang_id_sql("lower(t)") + " FROM (SELECT ? AS t)",
            [phrase],
        ).fetchone()[0]
        assert got == want, (phrase, got, want)
    # the bound-scores variant (the graded leg's plan shape) agrees too
    scores = T.lang_marker_scores("text")
    bound = df.select(
        *[scores[lang].alias(f"s_{lang}") for lang in sorted(scores)]
    ).select(
        T.lang_id_from_scores(
            {lang: F.col(f"s_{lang}") for lang in sorted(scores)}
        ).alias("lang")
    )
    assert [r.lang for r in bound.collect()] == out


def test_text_stats_lang_leg_matches_standalone(spark, sf_smoke):
    """The q_text_stats union's lang_id leg must equal q_lang_id's
    standalone agreement matrix row-for-row."""
    from ai_ready_data_framework_spark.registry import QUERIES

    leg = {
        (r.lang, r.detected, r.n_docs)
        for r in QUERIES["q_text_stats"](spark, sf_smoke).collect()
        if r.stat_kind == "lang_id"
    }
    standalone = {
        (r.lang, r.detected, r.n_docs)
        for r in QUERIES["q_lang_id"](spark, sf_smoke).collect()
    }
    assert leg == standalone and leg


def test_check_values_normalized(spark, sf_smoke):
    """Reference contract: every check value is a float in [0,1]
    (requirements.yaml:3)."""
    for name in (
        "q_check_fraction",
        "q_check_embedding_dim",
        "q_check_distribution",
        "q_check_kanon",
        "q_check_traceability",
    ):
        row = QUERIES[name](spark, sf_smoke).collect()[0]
        assert 0.0 <= row.value <= 1.0, name


def test_embed_quantize_matches_duckdb_oracle(spark, sf_correctness):
    """int8 quantization must agree with DuckDB's list-expression
    recompute: same per-vector scale, same quantized codes. Both
    engines round half-away-from-zero on doubles, so the codes match
    exactly."""
    import duckdb

    from ai_ready_data_framework_spark.io import table_path
    from ai_ready_data_framework_spark.operators import ai

    sql = f"""
        SELECT vec_id, label,
               CASE WHEN m <> 0 THEN m / {ai.QUANT_MAX} END AS scale,
               CASE WHEN m <> 0 THEN
                   [CAST(round(CAST(x AS DOUBLE) / (m / {ai.QUANT_MAX})) AS INT)
                    for x in embedding]
               END AS q
        FROM (
            SELECT vec_id, label, embedding,
                   list_max(list_transform(embedding,
                                           x -> abs(CAST(x AS DOUBLE)))) AS m
            FROM read_parquet('{table_path(sf_correctness, "embeddings")}')
        )
    """
    expected = {
        (r[0], r[1], r[2], tuple(r[3]) if r[3] is not None else None)
        for r in duckdb.connect().execute(sql).fetchall()
    }
    rows = QUERIES["q_embed_quantize"](spark, sf_correctness).collect()
    got = {
        (r.vec_id, r.label, r.scale, tuple(r.q) if r.q is not None else None)
        for r in rows
    }
    assert got == expected
    assert len(got) > 0


def test_embed_quantize_reconstruction_bounds(spark, sf_smoke):
    """Quantization invariants: codes fit int8, per-element
    reconstruction error <= scale/2, dequantized cosine vs the
    original > 0.999."""
    import math

    from ai_ready_data_framework_spark.io import load_table
    from ai_ready_data_framework_spark.operators import ai

    orig = {
        r.vec_id: r.embedding
        for r in load_table(spark, sf_smoke, "embeddings").collect()
    }
    rows = QUERIES["q_embed_quantize"](spark, sf_smoke).collect()
    assert len(rows) == len(orig)
    for r in rows:
        if r.scale is None:
            continue
        x = orig[r.vec_id]
        assert all(abs(qi) <= ai.QUANT_MAX for qi in r.q)
        deq = [qi * r.scale for qi in r.q]
        max_err = max(abs(d - float(v)) for d, v in zip(deq, x))
        assert max_err <= r.scale / 2 + 1e-9, (r.vec_id, max_err, r.scale)
        dot = sum(d * float(v) for d, v in zip(deq, x))
        na = math.sqrt(sum(d * d for d in deq))
        nb = math.sqrt(sum(float(v) ** 2 for v in x))
        assert dot / (na * nb) > 0.999, r.vec_id


def test_containment_pairs_matches_duckdb_oracle(spark, sf_correctness):
    """Asymmetric containment over winnowed fingerprints: identical
    pair sets from both engines under the same posting-frequency cap;
    containment must exceed Jaccard's reach (pairs the symmetric
    near-dup threshold misses)."""
    import duckdb

    from ai_ready_data_framework_spark.io import table_path

    n_docs = 500
    cap = min(ai.MAX_SHINGLE_DF_FRACTION * n_docs, ai.MAX_SHINGLE_DF_ABS)
    sql = f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words
            FROM read_parquet('{table_path(sf_correctness, "documents")}')
        ),
        sh AS (
            SELECT doc_id, i,
                   md5(array_to_string(words[i : i + {ai.SHINGLE_K - 1}], ' ')) AS h
            FROM (
                SELECT doc_id, words,
                       unnest(range(1, greatest(len(words) - {ai.SHINGLE_K - 1}, 1) + 1)) AS i
                FROM w
            )
        ),
        win AS (
            SELECT DISTINCT doc_id,
                   MIN(h) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN {ai.WINNOW_W - 1} PRECEDING AND CURRENT ROW
                   ) AS fp
            FROM sh QUALIFY i >= {ai.WINNOW_W}
        ),
        n AS (SELECT doc_id, COUNT(*) AS n FROM win GROUP BY 1),
        rare AS (SELECT fp FROM win GROUP BY fp HAVING COUNT(*) <= {cap}),
        pf AS (SELECT win.* FROM win JOIN rare USING (fp)),
        p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
            FROM pf a JOIN pf b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, shared,
               ROUND(shared / LEAST(na.n, nb.n), 4) AS containment
        FROM p JOIN n na ON p.doc_a = na.doc_id
               JOIN n nb ON p.doc_b = nb.doc_id
        WHERE shared / LEAST(na.n, nb.n) >= {ai.CONTAINMENT_THRESHOLD}
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_containment_pairs"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    assert len(rows) > 0
    assert all(0 < r.containment <= 1.0 for r in rows)


def test_vector_topk_batch_matches_duckdb_oracle(spark, sf_correctness):
    """Batch exact top-k: per-query ranked lists identical to DuckDB's
    cross-join + qualify formulation."""
    import duckdb

    from ai_ready_data_framework_spark.io import table_path

    e = table_path(sf_correctness, "embeddings")
    sql = f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qv
            FROM read_parquet('{e}') WHERE vec_id < {ai.BATCH_QUERY_VECS}
        ),
        scored AS (
            SELECT q.query_id, c.vec_id,
                   ROUND(list_dot_product(c.embedding, q.qv)
                         / (sqrt(list_dot_product(c.embedding, c.embedding))
                            * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
            FROM read_parquet('{e}') c CROSS JOIN q
            WHERE c.vec_id >= {ai.BATCH_QUERY_VECS}
        )
        SELECT query_id,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, vec_id
               ) AS BIGINT) AS rank,
               vec_id, cosine
        FROM scored
        QUALIFY rank <= {ai.RETRIEVAL_TOP_K}
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_vector_topk_batch"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    # every query got a full top-k list
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert len(per_q) == ai.BATCH_QUERY_VECS
    assert all(sorted(v) == list(range(1, ai.RETRIEVAL_TOP_K + 1)) for v in per_q.values())


def test_dedup_incremental_equals_batch_restriction(spark, sf_correctness):
    """The incremental (batch-vs-index) pair set must equal the full
    batch q_dedup_near pair set restricted to pairs touching the new
    batch — same sketches, same threshold, so set-identical including
    the estimated Jaccard."""
    from ai_ready_data_framework_spark.operators.ai import INCR_BATCH_MOD
    from ai_ready_data_framework_spark.registry import QUERIES

    near = {
        frozenset((r.doc_a, r.doc_b)): r.est_jaccard
        for r in QUERIES["q_dedup_near"](spark, sf_correctness).collect()
        if r.doc_a % INCR_BATCH_MOD == 0 or r.doc_b % INCR_BATCH_MOD == 0
    }
    incr_rows = QUERIES["q_dedup_incremental"](spark, sf_correctness).collect()
    incr = {
        frozenset((r.new_doc, r.other_doc)): r.est_jaccard for r in incr_rows
    }
    assert incr == near
    # every pair touches the batch; new-new pairs appear exactly once
    assert all(r.new_doc % INCR_BATCH_MOD == 0 for r in incr_rows)
    assert len(incr_rows) == len(incr)


# ---------------------------------------------------------------------------
# Hot-bucket cap (VERDICT r3 #1): quadratic in-bucket pair generation
# must collapse to a representative star above the cap
# ---------------------------------------------------------------------------


def _synthetic_boiler_docs(spark, n_copies, n_distinct=5):
    """n_copies identical docs (one giant LSH bucket per band) plus a
    few distinct docs that must be unaffected by the cap."""
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(n_copies)]
    # distinct docs share NO tokens with each other or the boilerplate,
    # so they can never pair (no chance minhash collisions to flake on)
    rows += [
        (
            n_copies + j,
            f"alpha{j}x beta{j}x gamma{j}x delta{j}x epsilon{j}x zeta{j}x",
        )
        for j in range(n_distinct)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _synthetic_boiler_corpus(spark, n_copies, n_distinct=5):
    """(doc_id, shingle) postings of _synthetic_boiler_docs."""
    docs = _synthetic_boiler_docs(spark, n_copies, n_distinct)
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(T.shingles(T.tokens("text"), ai.SHINGLE_K))).alias(
            "s"
        ),
    )


def test_hot_bucket_cap_emits_star_not_clique(spark):
    """An adversarial 300-copy boilerplate cluster with cap=50: pair
    count must be O(bucket) — every member paired with the bucket-min
    representative — not O(bucket²)."""
    n = 300
    sh = _synthetic_boiler_corpus(spark, n)
    sig = T.minhash_signatures(sh, "doc_id", "s")
    pairs = T.banded_minhash_pairs(
        sig, "doc_id", ai.NEAR_DUP_JACCARD, hot_bucket_cap=50
    ).collect()
    # star: exactly n-1 pairs, all anchored at the representative id 0
    assert len(pairs) == n - 1, len(pairs)
    assert all(r.id_a == 0 for r in pairs)
    assert {r.id_b for r in pairs} == set(range(1, n))
    # identical docs: signature-estimated jaccard is exact 1.0
    assert all(r.est_jaccard == 1.0 for r in pairs)
    # the star spans the same connected component as the clique would
    from ai_ready_data_framework_spark.functions.graph import connected_components

    comp = connected_components(
        spark.createDataFrame(
            [(r.id_a, r.id_b) for r in pairs], "doc_a long, doc_b long"
        ),
        "doc_a",
        "doc_b",
    )
    assert {r.component for r in comp.collect()} == {0}


def test_hot_bucket_cap_identity_below_cap(spark):
    """With every bucket under the cap, the capped and uncapped pair
    sets are identical — the cap is a no-op on healthy corpora."""
    sh = _synthetic_boiler_corpus(spark, 40)
    sig = T.minhash_signatures(sh, "doc_id", "s")
    capped = {
        tuple(r)
        for r in T.banded_minhash_pairs(
            sig, "doc_id", ai.NEAR_DUP_JACCARD, hot_bucket_cap=50
        ).collect()
    }
    uncapped = {
        tuple(r)
        for r in T.banded_minhash_pairs(
            sig, "doc_id", ai.NEAR_DUP_JACCARD, hot_bucket_cap=1 << 30
        ).collect()
    }
    assert capped == uncapped
    assert len(capped) == 40 * 39 // 2  # full clique below the cap


def test_incremental_probe_hot_bucket_star(spark):
    """The incremental probe against a hot index bucket must emit one
    (doc, representative) pair per batch doc — work scales with the
    batch, never with the bucket."""
    from ai_ready_data_framework_spark.operators.ai import incremental_band_probe

    n, mod = 300, 5
    sh = _synthetic_boiler_corpus(spark, n, n_distinct=0)
    sig = T.minhash_signatures(sh, "doc_id", "s")
    bands = T.minhash_bands(sig, "doc_id")
    rows = incremental_band_probe(bands, mod, hot_bucket_cap=50).collect()
    # rep id 0 is itself in the batch -> canonical orientation anchors
    # it on the new_doc side; every batch member appears exactly once
    batch = {i for i in range(n) if i % mod == 0}
    assert all(r.new_doc % mod == 0 for r in rows)
    assert len(rows) == len(batch) - 1
    assert all(r.new_doc == 0 for r in rows)
    assert {r.other_doc for r in rows} == batch - {0}


def test_incremental_probe_hot_bucket_star_sparse_postings(spark):
    """The hot-bucket star over the persisted posting form
    (streaming/dedup.py::doc_bands: __sig on band 0 only) has the
    full-signature star's pairs and estimates: every signature comes
    from its document's band-0 row, whichever band's bucket paired it."""
    from ai_ready_data_framework_spark.operators.ai import incremental_band_probe
    from ai_ready_data_framework_spark.streaming import dedup as SD

    n, mod = 300, 5
    bands = SD.doc_bands(_synthetic_boiler_docs(spark, n, n_distinct=0))
    assert bands.filter(F.col("__sig").isNotNull()).count() == n
    rows = incremental_band_probe(bands, mod, hot_bucket_cap=50).collect()
    batch = {i for i in range(n) if i % mod == 0}
    assert len(rows) == len(batch) - 1
    assert all(r.new_doc == 0 and r.est_jaccard == 1.0 for r in rows)
    assert {r.other_doc for r in rows} == batch - {0}


def test_multimodal_decoder_is_injectable(spark, sf_correctness):
    """VERDICT r3 missing #2: the decode step is configuration. The
    default fake and an injected custom decoder must run through the
    SAME Arrow pipeline, differing only in the decoded dimensions.
    (Defined inside the test: cloudpickle ships nested functions by
    value, while a test-module global would be pickled by reference to
    a module the Arrow worker cannot import.)"""

    def _len_decoder(content: bytes) -> tuple[int, int]:
        # width = payload length, height = 7 — trivially
        # distinguishable from the hash-derived fake
        return len(content), 7

    media = multimodal.synth_media(spark, sf_correctness)
    custom = {
        r.media_id: r
        for r in multimodal.extract_metadata(media, decode=_len_decoder).collect()
    }
    default = {
        r.media_id: r
        for r in multimodal.extract_metadata(media).collect()
    }
    assert set(custom) == set(default)
    for mid, row in custom.items():
        # injected semantics hold...
        assert row.width == row.n_bytes and row.height == 7
        # ...and everything decode-independent is identical
        assert row.n_bytes == default[mid].n_bytes
        assert row.content_sha == default[mid].content_sha
        assert row.media_type == default[mid].media_type


def test_dedup_semantic_matches_coclustered_exact_pairs(spark, sf_correctness):
    """SemDeDup (q_dedup_semantic): the vectors it DROPS must be exactly
    those with a smaller-id co-clustered partner in the EXACT all-pairs
    cosine dup set (q_embed_dup) — the cluster partition is the only
    recall loss, and within clusters the operator is exact. Two runs
    must be bitwise identical (seeded kmeans + deterministic sample)."""
    from ai_ready_data_framework_spark.operators.ai import (
        semantic_cluster_assign,
    )

    exact = {
        (r.id_a, r.id_b)
        for r in ai.embed_dup_pairs(spark, sf_correctness).collect()
    }
    cluster = {
        r.vec_id: r.cluster_id
        for r in semantic_cluster_assign(spark, sf_correctness).collect()
    }
    expected_dropped = {
        b for a, b in exact if cluster[a] == cluster[b]
    }
    rows = QUERIES["q_dedup_semantic"](spark, sf_correctness).collect()
    dropped = {r.vec_id for r in rows if not r.keep}
    assert dropped == expected_dropped
    # one row per vector, keep majority (random corpus: dups are rare)
    assert len(rows) == len(cluster)
    assert len(dropped) < 0.05 * len(rows)
    assert all((r.n_dups > 0) == (not r.keep) for r in rows)
    # determinism across runs
    rows2 = QUERIES["q_dedup_semantic"](spark, sf_correctness).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_dedup_lines_matches_duckdb_oracle(spark, sf_correctness):
    """q_dedup_lines (C4/RefinedWeb duplicated-segment removal) is
    SQL-expressible but registers rows-only, so its DuckDB oracle
    runs here: identical (doc, counts, reassembled text) sets."""
    import duckdb

    from ai_ready_data_framework_spark.io import table_path

    blk = ai.DUP_LINE_BLOCK_TOKENS
    sql = f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM read_parquet('{table_path(sf_correctness, "documents")}')
        ),
        b AS (
            SELECT doc_id, i AS pos,
                   array_to_string(toks[i*{blk}+1 : i*{blk}+{blk}], ' ') AS block
            FROM (
                SELECT doc_id, toks,
                       unnest(range(0, CAST(ceil(len(toks) / {blk}.0) AS INT))) AS i
                FROM t
            )
        ),
        s AS (
            SELECT md5(block) AS bh,
                   COUNT(DISTINCT doc_id) AS n_docs,
                   MIN(doc_id) AS min_doc
            FROM b GROUP BY 1
        ),
        k AS (
            SELECT b.doc_id, b.pos, b.block,
                   (s.n_docs < {ai.DUP_LINE_MIN_DOCS} OR b.doc_id = s.min_doc) AS keep
            FROM b JOIN s ON md5(b.block) = s.bh
        )
        SELECT doc_id,
               COUNT(*) AS n_blocks,
               COUNT(CASE WHEN keep THEN 1 END) AS n_kept,
               COALESCE(string_agg(CASE WHEN keep THEN block END, ' ' ORDER BY pos),
                        '') AS cleaned_text
        FROM k GROUP BY doc_id
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_dedup_lines"](spark, sf_correctness).collect()
    got = {(r.doc_id, r.n_blocks, r.n_kept, r.cleaned_text) for r in rows}
    assert got == expected
    # the corpus contains exact-duplicate documents, so boilerplate
    # blocks must actually be removed somewhere (policy has teeth)
    assert any(r.n_kept < r.n_blocks for r in rows)
    assert all(r.n_kept >= 0 and r.n_kept <= r.n_blocks for r in rows)


def test_pq_ann_recall_vs_exact_batch(spark, sf_correctness):
    """PQ-ADC ANN must recover nearly all of the exact batch top-k —
    the retrieval_recall_compliance pattern (check 19) for the
    compressed-index path. Measured 0.98 at sf0.01 with K=32 codewords
    and 100-deep ADC candidates on this (adversarially random) corpus;
    the assertion leaves headroom for fixture regeneration."""
    exact = {
        (r.query_id, r.vec_id)
        for r in QUERIES["q_vector_topk_batch"](spark, sf_correctness).collect()
    }
    pq_rows = QUERIES["q_vector_ann_pq"](spark, sf_correctness).collect()
    pq = {(r.query_id, r.vec_id) for r in pq_rows}
    assert exact, "exact batch top-k expected"
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.85, f"pq recall {recall}"
    # contract: exactly top-k rows per query, ranks 1..k
    per_q = {}
    for r in pq_rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, ai.RETRIEVAL_TOP_K + 1)), qid


def test_pq_ann_deterministic(spark, sf_smoke):
    """Seeded codebooks + fixed-order ADC accumulation + tie-broken
    ranks: two runs must be bitwise identical."""
    a = QUERIES["q_vector_ann_pq"](spark, sf_smoke).collect()
    b = QUERIES["q_vector_ann_pq"](spark, sf_smoke).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_knn_graph_recall_vs_exact(spark, sf_smoke):
    """Approximate k-NN graph: per-node neighbor sets must recover most
    of the exact graph (measured 0.87 on the random corpus — SRP bands
    prune weakly here by design, see q_embed_dup_lsh's caveat), and
    every node must appear with exactly K ranked neighbors."""
    emb = load_table(spark, sf_smoke, "embeddings")
    a = emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("vb"))
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    exact_rows = (
        a.crossJoin(b)
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src", "dst", F.round(V.cosine("va", "vb"), 4).alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ai.KNN_GRAPH_K)
        .collect()
    )
    exact = {(r.src, r.dst) for r in exact_rows}
    got_rows = QUERIES["q_knn_graph"](spark, sf_smoke).collect()
    got = {(r.src, r.dst) for r in got_rows}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.75, f"knn graph recall {recall}"
    n_nodes = emb.count()
    per_node = {}
    for r in got_rows:
        per_node.setdefault(r.src, []).append(r.rank)
    assert len(per_node) == n_nodes, "every node must be ranked"
    for src, ranks in per_node.items():
        assert sorted(ranks) == list(range(1, ai.KNN_GRAPH_K + 1)), src


def test_contrastive_pairs_invariants_and_recall(spark, sf_smoke):
    """Pair mining: pos pairs must share the anchor's label, neg pairs
    must not; ranks run 1..K within each type; and the mined sets must
    recover most of the exact per-type top-K (band candidates prune
    weakly on this random corpus, so recall is high)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    rows = QUERIES["q_contrastive_pairs"](spark, sf_smoke).collect()
    assert rows
    per = {}
    for r in rows:
        if r.pair_type == "pos":
            assert labels[r.anchor] == labels[r.cand], r
        else:
            assert labels[r.anchor] != labels[r.cand], r
        per.setdefault((r.anchor, r.pair_type), []).append(r.rank)
    for key, ranks in per.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), key
        assert len(ranks) <= ai.MINE_K
    # exact twin: crossJoin, same type split, same top-K
    a = emb.select(
        F.col("vec_id").alias("anchor"),
        F.col("label").alias("la"),
        F.col("embedding").alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("cand"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("vb"),
    )
    w = Window.partitionBy("anchor", "pair_type").orderBy(
        F.desc("cosine"), F.asc("cand")
    )
    exact_rows = (
        a.crossJoin(b)
        .filter(F.col("anchor") != F.col("cand"))
        .select(
            "anchor",
            F.when(F.col("la") == F.col("lb"), "pos").otherwise("neg").alias(
                "pair_type"
            ),
            "cand",
            F.round(V.cosine("va", "vb"), 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ai.MINE_K)
        .collect()
    )
    exact = {(r.anchor, r.pair_type, r.cand) for r in exact_rows}
    got = {(r.anchor, r.pair_type, r.cand) for r in rows}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.75, f"contrastive mining recall {recall}"


def test_pq_ann_degenerate_corpus_returns_empty(spark, tmp_path):
    """Fewer vectors than codewords: the PQ index is undefined — the
    operator must return an empty frame with the contract schema
    instead of crashing the codebook fit."""
    spark.createDataFrame(
        [(0, [0.0] * 64, 1)], "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = QUERIES["q_vector_ann_pq"](spark, str(tmp_path))
    assert out.columns == ["query_id", "rank", "vec_id", "cosine"]
    assert out.count() == 0


def test_label_noise_flags_injected_corruption(spark):
    """On a synthetic CLUSTERED corpus (two well-separated gaussian
    blobs, labels = blob id) with 10% of labels flipped, the k-NN
    agreement screen must flag most flipped vectors as suspects and
    almost no clean ones (the random fixture corpus cannot show this —
    its labels are independent of geometry, as the docstring says)."""
    import numpy as np

    rng = np.random.RandomState(7)
    n_per, dim = 120, 16
    blob0 = rng.normal(0.0, 0.05, (n_per, dim)) + np.eye(dim)[0]
    blob1 = rng.normal(0.0, 0.05, (n_per, dim)) + np.eye(dim)[1]
    rows = []
    flipped = set()
    for i in range(n_per * 2):
        v = (blob0[i] if i < n_per else blob1[i - n_per]).tolist()
        true_label = 0 if i < n_per else 1
        label = true_label
        if i % 10 == 0:  # deterministic 10% corruption
            label = 1 - true_label
            flipped.add(i)
        rows.append((i, [float(x) for x in v], label))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    # 16-dim blobs need 16-dim planes: temporarily narrow EMBED_DIM
    orig_dim = ai.EMBED_DIM
    ai.EMBED_DIM = dim
    try:
        out = {r.vec_id: r for r in ai.knn_label_agreement(emb).collect()}
    finally:
        ai.EMBED_DIM = orig_dim
    assert len(out) == n_per * 2
    sus = {v for v, r in out.items() if r.suspect == 1}
    recall = len(sus & flipped) / len(flipped)
    clean = set(out) - flipped
    false_rate = len(sus & clean) / len(clean)
    assert recall >= 0.9, recall
    assert false_rate <= 0.05, false_rate
    for r in out.values():
        assert 0.0 <= r.agreement <= 1.0


def test_dedup_media_exact_oracle(spark, sf_correctness):
    """Exact oracle: synth media is encode(text) with media_type =
    doc_id % 3, so every (media_type, sha) dup group must be exactly
    the same-text doc set restricted to that type — same size, same
    min-id survivor — and no payload byte reaches the output schema."""
    docs = load_table(spark, sf_correctness, "documents").collect()
    import hashlib

    types = ["image", "audio", "video"]
    expected: dict[tuple, list] = {}
    for d in docs:
        sha = hashlib.sha256(d.text.encode()).hexdigest()
        expected.setdefault((types[d.doc_id % 3], sha), []).append(d.doc_id)
    media_df = QUERIES["q_dedup_media"](spark, sf_correctness)
    media_rows = media_df.collect()
    assert "content" not in set(media_df.columns)
    got = {
        (r.media_type, r.content_sha): (r.keep_media_id, r.n_copies)
        for r in media_rows
    }
    assert set(got) == set(expected)
    for key, ids in expected.items():
        assert got[key] == (min(ids), len(ids)), key
    # note: the fixture's exact-text dup pairs happen never to share
    # doc_id % 3, so the type split leaves every media group size 1
    # here — the oracle above still verifies grouping/survivor logic
    # exactly; multi-copy behavior is covered by the same-code-path
    # q_dedup_exact oracle (identical group-min-count shape)
    assert media_rows


def _synthetic_hot_cluster(spark, n_hot: int, n_cold: int):
    """Assignment frame with one adversarial near-identical pile
    (cluster 0: n_hot copies of ~the same vector) plus a healthy
    spread-out cluster 1 where only ids (n_hot, n_hot+1) are dups."""
    rows = []
    for i in range(n_hot):
        # tiny per-id jitter: near-identical, cosine ~ 1.0 pairwise
        rows.append((i, 0, [1.0, 1.0 + i * 1e-6, 0.5]))
    import math

    for j in range(n_cold):
        vid = n_hot + j
        if j < 2:
            vec = [0.0, 1.0, 1.0 + j * 1e-6]  # the one cold dup pair
        else:
            # directions 30° apart in the xy-plane: pairwise cosine
            # <= cos(30°) ~= 0.866 < tau, and <= sin(theta)/sqrt(2)
            # ~= 0.707 vs the dup pair's (0, 1, 1) direction
            th = math.radians(30.0 * j)
            vec = [math.cos(th), math.sin(th), 0.0]
        rows.append((vid, 1, vec))
    return spark.createDataFrame(
        rows, "vec_id long, cluster_id int, embedding array<float>"
    )


def test_semdedup_hot_cluster_cap_emits_star_not_clique(spark):
    """VERDICT r4 #1: a 300-vector boilerplate pile with cap=50 must
    keep only the cluster-minimum representative, with every dropped
    member reporting exactly ONE dup partner (the star anchor) —
    O(population) pairs, never the 300*299/2 clique — while the
    under-cap cluster keeps exact clique semantics."""
    n_hot = 300
    assigned = _synthetic_hot_cluster(spark, n_hot, n_cold=10)
    rows = {
        r.vec_id: r
        for r in ai.semantic_dup_flags(
            assigned, hot_cluster_cap=50, tau=0.9
        ).collect()
    }
    assert len(rows) == n_hot + 10
    # hot cluster: rep 0 kept, everyone else dropped via the star
    assert rows[0].keep and rows[0].n_dups == 0
    for i in range(1, n_hot):
        assert not rows[i].keep and rows[i].n_dups == 1, rows[i]
    # cold cluster stays exact: only the larger id of the dup pair drops
    assert rows[n_hot].keep
    assert not rows[n_hot + 1].keep and rows[n_hot + 1].n_dups == 1
    for j in range(2, 10):
        assert rows[n_hot + j].keep, rows[n_hot + j]


def test_semdedup_cap_identity_below_cap(spark):
    """With every cluster under the cap the capped and uncapped outputs
    are identical — the cap is a no-op on healthy corpora."""
    assigned = _synthetic_hot_cluster(spark, 40, n_cold=10)
    capped = sorted(
        map(
            tuple,
            ai.semantic_dup_flags(
                assigned, hot_cluster_cap=50, tau=0.9
            ).collect(),
        )
    )
    uncapped = sorted(
        map(
            tuple,
            ai.semantic_dup_flags(
                assigned, hot_cluster_cap=1 << 30, tau=0.9
            ).collect(),
        )
    )
    assert capped == uncapped
    # 40 near-identical vectors: clique drops all but the minimum
    dropped = [t for t in capped if t[1] == 0 and not t[2]]
    assert len(dropped) == 39


def test_dedup_normalized_matches_duckdb_oracle(spark, sf_correctness):
    """q_dedup_normalized: DuckDB reproduces the normalization chain
    and the grouped survivors bit-for-bit; plus the merge semantics on
    a synthetic frame where copies differ only in case/punct/spacing."""
    import duckdb

    from ai_ready_data_framework_spark.io import table_path
    from ai_ready_data_framework_spark.operators.ai import NORMALIZED_SHA_SQL

    sql = f"""
        SELECT MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies,
               COUNT(DISTINCT sha256(text)) AS n_raw_variants
        FROM read_parquet('{table_path(sf_correctness, "documents")}')
        GROUP BY {NORMALIZED_SHA_SQL}
    """
    expected = {tuple(r) for r in duckdb.connect().execute(sql).fetchall()}
    rows = QUERIES["q_dedup_normalized"](spark, sf_correctness).collect()
    assert {tuple(r) for r in rows} == expected
    # byte-exact groups can never split under normalization (compare
    # against the `raw` leg of the round-6 q_dedup_exact union)
    exact = [
        r
        for r in QUERIES["q_dedup_exact"](spark, sf_correctness).collect()
        if r.dedup_kind == "raw"
    ]
    assert len(rows) <= len(exact)
    assert sum(r.n_copies for r in rows) == sum(r.n_copies for r in exact)
    # raw groups hold exactly one byte-exact form by construction
    assert all(r.n_raw_variants == 1 for r in exact)
    # synthetic: re-styled copies merge, distinct text does not
    df = spark.createDataFrame(
        [
            (1, "Hello,   World!"),
            (2, "hello world"),
            (3, "HELLO WORLD."),
            (4, "hello\nworld"),  # re-wrapped copy must merge...
            (5, "hello\tworld"),
            (6, "helloworld"),  # ...but glued words must NOT
            (7, "goodbye world"),
            # vertical tab: Java \s matches it, RE2 \s does not — the
            # explicit [ \t\n\r\f\x0b] class (ADVICE r5) makes both
            # engines treat it as whitespace, so this merges with 1
            (8, "hello\x0bworld"),
        ],
        "doc_id long, text string",
    )
    from ai_ready_data_framework_spark.operators.ai import normalized_text

    groups = (
        df.groupBy(F.sha2(normalized_text(F.col("text")), 256))
        .agg(
            F.min("doc_id").alias("keep"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    by_keep = {r.keep: r.n for r in groups}
    assert by_keep == {1: 6, 6: 1, 7: 1}
    # and DuckDB agrees on the \x0b-bearing frame (cross-engine pin
    # for the explicit whitespace class)
    import duckdb as _dd

    con = _dd.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(r.doc_id, r.text) for r in df.collect()],
    )
    ora = con.execute(
        "SELECT MIN(doc_id), COUNT(*) FROM t GROUP BY " + NORMALIZED_SHA_SQL
    ).fetchall()
    assert {(k, n) for k, n in ora} == {(1, 6), (6, 1), (7, 1)}


def test_multimodal_real_decode_roundtrip():
    """Pure-stdlib encode/decode roundtrip (no Spark): PPM and BMP
    headers, WAV via the wave module, ANIM frame containers — decoded
    values must equal the generator parameters exactly."""
    for mid in range(0, 64):
        w, h = multimodal._gen_dims(mid)
        assert multimodal.decode_image_real(
            multimodal.encode_ppm(w, h, mid)
        ) == (w, h)
        assert multimodal.decode_image_real(
            multimodal.encode_bmp(w, h, mid)
        ) == (w, h)
        nf, rate = multimodal._gen_audio(mid)
        assert multimodal.decode_audio_real(
            multimodal.encode_wav(nf, rate, mid)
        ) == (1, rate, nf)
        frames = [multimodal.encode_ppm(w, h, mid * 100 + i) for i in range(3)]
        got = multimodal.decode_anim_frames(multimodal.encode_anim(frames))
        assert got == frames
    # compressed codecs stay injected configuration
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(b"\x89PNG\r\n\x1a\n....")


def test_multimodal_decode_pipeline_matches_generator(spark, sf_smoke):
    """The distributed decode pipeline (q_multimodal_decode's body)
    must reproduce the generator's parameters for EVERY row — the
    decode step is real, so the oracle is exact."""
    n = 200
    rows = multimodal.decode_media(
        multimodal.synth_real_media(spark, n)
    ).collect()
    assert len(rows) == n
    for r in rows:
        w, h = multimodal._gen_dims(r.media_id)
        kind = r.media_id % 4
        if kind in (0, 1):
            assert r.media_type == "image"
            assert (r.width, r.height) == (w, h)
            assert r.n_frames is None and r.audio_frames is None
        elif kind == 2:
            nf, rate = multimodal._gen_audio(r.media_id)
            assert r.media_type == "audio"
            assert (r.audio_frames, r.framerate) == (nf, rate)
            assert r.width is None
        else:
            assert r.media_type == "video"
            assert r.n_frames == multimodal.ANIM_FRAMES
            assert (r.width, r.height) == (w, h)
    # query-level determinism
    a = QUERIES["q_multimodal_decode"](spark, sf_smoke).collect()
    b = QUERIES["q_multimodal_decode"](spark, sf_smoke).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {r.media_type for r in a} == {"image", "audio", "video"}


def test_ppm_decode_handles_comment_lines():
    """Legal P6 headers may contain '#' comment lines between tokens
    (GIMP emits them); the header scanner must skip them."""
    body = b"\x00" * (4 * 3 * 3)
    payload = b"P6\n# made by gimp\n4 3\n# another\n255\n" + body
    assert multimodal.decode_image_real(payload) == (4, 3)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.decode_image_real(b"P6\n# only comments\n")


def test_fuzzy_block_cap_bounds_hot_blocks(spark, sf_correctness):
    """VERDICT r5 #5 adversarial fixture: one hot 3-char prefix block
    must stop generating candidates once it exceeds max_block, while
    pairs reachable through the other (suffix) arm survive — bounded
    candidates without losing the second blocking pass's recall."""
    from ai_ready_data_framework_spark.operators import ai

    # 120 names share prefix "AAA" with wildly different suffixes (the
    # hot block); two of them ALSO share a suffix and are true matches
    rows = [(i, f"AAA-{i:05d}-{'XYZ' if i < 2 else f'{i:03d}'[-3:]}") for i in range(120)]
    # a clean pair in a small block, reachable via prefix arm
    rows += [(500, "BBB-CLEAN-01"), (501, "BBB-CLEAN-02")]
    df = spark.createDataFrame(rows, "id long, name string")

    capped = {
        (r.key_a, r.key_b)
        for r in ai.fuzzy_match_pairs(
            df, "id", "name", max_edit=4, max_block=50
        ).collect()
    }
    # hot prefix block (120 > 50) is purged: prefix-arm-only pairs gone
    # suffix arm still catches (0, 1): suffix block "XYZ" has 2 members
    assert (0, 1) in capped
    # small-block pair survives via its own prefix arm
    assert (500, 501) in capped
    # nothing else from the hot block can appear: all other AAA pairs
    # disagree in their 3-char suffix AND their block was purged
    assert all(a >= 500 or (a, b) == (0, 1) for a, b in capped), capped

    # with the default (production) cap, nothing is purged here
    uncapped = {
        (r.key_a, r.key_b)
        for r in ai.fuzzy_match_pairs(df, "id", "name", max_edit=4).collect()
    }
    assert capped < uncapped

    # grading-scale contract: no fixture block approaches the default
    # cap, so the graded q_embed_dup oracle's purge clause is vacuous
    cust = load_table(spark, sf_correctness, "customer")
    named = cust.select(F.upper("c_name").alias("name"))
    for blk in (F.substring("name", 1, 3), F.substring("name", -3, 3)):
        max_bn = (
            named.groupBy(blk.alias("b")).agg(F.count("*").alias("n"))
            .agg(F.max("n")).first()[0]
        )
        assert max_bn <= ai.FUZZY_MAX_BLOCK / 10, max_bn


def _recall_vs_exact_batch(spark, sf_dir, approx_rows):
    """(query, vec) pair recall of an approx batch result vs the exact
    q_vector_topk_batch baseline."""
    exact = {
        (r.query_id, r.vec_id)
        for r in QUERIES["q_vector_topk_batch"](spark, sf_dir).collect()
    }
    approx = {(r.query_id, r.vec_id) for r in approx_rows}
    return len(exact & approx) / len(exact)


def test_pq_recall_parameterized_over_settings(spark, sf_smoke):
    """VERDICT r5 #8: the ANNConfig recall/latency trade is real and
    documented — the default setting (pq_k=32, cand=100) must beat the
    fast setting (pq_k=16, cand=50), and both clear their floors."""
    fast_cfg = ai.ANNConfig(pq_k=16, pq_candidates=50, pq_fit_sample=1024)
    default = _recall_vs_exact_batch(
        spark, sf_smoke, ai.q_vector_ann_pq(spark, sf_smoke).collect()
    )
    fast = _recall_vs_exact_batch(
        spark, sf_smoke, ai.q_vector_ann_pq(spark, sf_smoke, fast_cfg).collect()
    )
    assert default >= 0.85, f"default pq recall {default}"
    assert fast >= 0.3, f"fast pq recall {fast}"
    assert default >= fast, (default, fast)


def test_ivf_recall_parameterized_over_nprobe(spark, sf_smoke):
    """More probed cells -> more recall: nprobe=4 (default) must cover
    at least what nprobe=2 finds, with both above their floors."""
    exact = {
        (r.query_id, r.vec_id)
        for r in QUERIES["q_vector_topk_batch"](spark, sf_smoke).collect()
    }

    def ivf_recall(cfg):
        rows = ai.q_vector_ann_ivf(spark, sf_smoke, cfg).collect()
        got = {(r.q_id, r.vec_id) for r in rows}
        return len(exact & got) / len(exact)

    r4 = ivf_recall(ai.DEFAULT_ANN)
    r2 = ivf_recall(ai.ANNConfig(ivf_nprobe=2))
    assert r4 >= 0.4, f"ivf nprobe=4 recall {r4}"
    assert r2 >= 0.1, f"ivf nprobe=2 recall {r2}"
    assert r4 >= r2, (r4, r2)


def test_brp_recall_parameterized_over_tables(spark, sf_smoke):
    """ANNConfig round-out: more hash tables -> more candidates -> at
    least as much recall for BRP-LSH, with both settings above their
    floors (single-query top-10 vs brute-force L2)."""
    emb = load_table(spark, sf_smoke, "embeddings")
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

    def recall(cfg):
        rows = ai.q_vector_ann(spark, sf_smoke, cfg).collect()
        return len(exact & {r.vec_id for r in rows}) / 10

    r4 = recall(ai.DEFAULT_ANN)
    r2 = recall(ai.ANNConfig(brp_num_hash_tables=2))
    assert r4 >= 0.5, f"brp 4-table recall {r4}"
    assert r2 >= 0.1, f"brp 2-table recall {r2}"
    assert r4 >= r2 - 0.1, (r4, r2)  # small slack: different hash draws


def test_ngram_pair_union_tiny_corpus(spark, tmp_path):
    """q_dedup_ngram's graded union on a hand-built corpus: one
    near-identical pair (jaccard leg), one short-doc-quoted-in-long-doc
    pair that only containment can see, and an unrelated doc; the
    registered union oracle must agree exactly, including on the
    asymmetric-only pair."""
    import duckdb

    from ai_ready_data_framework_spark.operators.ai import (
        NGRAM_PAIR_UNION_ORACLE_SQL,
    )

    long_quote = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, "red fox jumps over the lazy dog tonight", "en", "s", 1),
        (1, "red fox jumps over the lazy dog today", "en", "s", 1),
        (2, long_quote, "en", "s", 1),
        (3, long_quote + " iota kappa mu nu xi omicron pi rho sigma tau"
            " upsilon phi chi psi omega one two three four five", "en", "s", 1),
        (4, "completely different words entirely here now", "en", "s", 1),
    ] + [
        # filler with disjoint vocabulary: n_docs must be large enough
        # that the RELATIVE df cap (0.2 * n_docs) does not drop the
        # df=2 shingles the true pairs share — on a 5-doc corpus the
        # cap is 1.0 and every shared shingle is "boilerplate"
        (10 + i, f"filler{i}a filler{i}b filler{i}c filler{i}d", "en", "s", 1)
        for i in range(20)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        tuple(r)
        for r in QUERIES["q_dedup_ngram"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    expected = {
        tuple(r) for r in con.execute(NGRAM_PAIR_UNION_ORACLE_SQL).fetchall()
    }
    assert got == expected
    kinds = {(r[0], r[1], r[2]) for r in got}
    assert ("jaccard", 0, 1) in kinds  # the near-identical pair
    assert ("containment", 2, 3) in kinds  # asymmetric-only pair
    assert ("jaccard", 2, 3) not in kinds  # jaccard threshold misses it


def test_embeddings_count_one_scan_feeds_all_three_fits(spark, sf_correctness):
    """VERDICT r8 #6: the three model-fit paths that size a hash
    sample from the embeddings-table row count (IVF quantizer,
    SemDeDup clustering, PQ codebooks) must share ONE memoized lookup
    — building all three back-to-back scans the table exactly once."""
    key = (spark.sparkContext.applicationId, sf_correctness)
    ai._EMB_COUNT_MEMO.pop(key, None)
    ai._EMB_COUNT_SCANS.pop(key, None)
    ai.ivf_fit_assign(spark, sf_correctness)
    ai.semantic_cluster_assign(spark, sf_correctness)
    QUERIES["q_vector_ann_pq"](spark, sf_correctness)
    assert ai._EMB_COUNT_SCANS.get(key) == 1
    assert ai._EMB_COUNT_MEMO[key] > 0
