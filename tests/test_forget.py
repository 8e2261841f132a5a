"""Right-to-erasure / takedown for the three persisted indexes
(sources/maintenance.py::forget_keys + the per-index wrappers): the
forgotten keys' postings must vanish from the republished base, probes
must stop matching the forgotten content, survivors must be conserved
exactly, side-artifact properties must carry over, and re-runs must be
no-ops — the DELETE half of the index lifecycle, grounding the
reference's retention_policy factor (requirements.yaml:197-199,
"defined and enforced data retention and deletion schedules")."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.operators.ai import gram_postings
from ai_ready_data_framework_spark.streaming import dedup as SD
from ai_ready_data_framework_spark.streaming import spans as SS

MIN_RUN = 4


def _text(prefix: str, n: int = 10) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def _ids(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "doc_id long")


def test_forget_documents_gram_erases_probe_matches(spark, tmp_path):
    from ai_ready_data_framework_spark.sources import maintenance as M

    index_docs = spark.createDataFrame(
        [(d, _text(f"base{d}_")) for d in range(1, 11)],
        "doc_id long, text string",
    )
    table = "gram_forget_test"
    index_path = str(tmp_path / "index")
    delta_dir = str(tmp_path / "deltas")
    spans_out = str(tmp_path / "spans")
    try:
        SS.write_gram_index(
            gram_postings(index_docs, min_run=MIN_RUN), table, index_path
        )
        # one ingested epoch: a copy of base doc 1 (doc 101) plus a
        # fresh text — 101's grams land in the delta, then fold
        b1 = spark.createDataFrame(
            [(101, _text("base1_")), (102, _text("u1_"))],
            "doc_id long, text string",
        )
        SS.probe_and_fold_spans(
            spark, b1, table, delta_dir, spans_out, 0, min_run=MIN_RUN
        )
        n_doc1_postings = 7 * 2  # 10-token doc, 4-gram -> 7 postings x2 docs

        # takedown: docs 1 AND its ingested copy 101 (both own base1_
        # grams — the compact-first wrapper folds 101's delta before
        # the republish so nothing survives in an epoch file)
        rep = SS.forget_documents_gram(
            spark, _ids(spark, 1, 101), table, index_path, delta_dir
        )
        assert rep["removed_rows"] == n_doc1_postings
        spark.catalog.refreshTable(table)
        assert (
            spark.table(table)
            .filter(F.col("doc_id").isin(1, 101))
            .count()
            == 0
        )
        # a NEW batch carrying the forgotten text no longer flags —
        # the content is gone, not just the rows
        probe = spark.createDataFrame(
            [(900, _text("base1_")), (901, _text("base2_"))],
            "doc_id long, text string",
        )
        got = {
            r.doc_id
            for r in SS.probe_spans(
                gram_postings(probe, min_run=MIN_RUN),
                M.index_view(spark, table),
                min_run=MIN_RUN,
            ).collect()
        }
        assert got == {901}  # base2 still matches; base1 forgotten
        # idempotent: nothing left to remove, survivors conserved
        n_after = spark.table(table).count()
        rep2 = SS.forget_documents_gram(
            spark, _ids(spark, 1, 101), table, index_path, delta_dir
        )
        assert rep2 == {"removed_rows": 0, "kept_rows": n_after}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_forget_documents_band_erases_pair_matches(spark, tmp_path):
    docs = spark.createDataFrame(
        [(d, _text(f"t{d}_", 12)) for d in range(1, 9)],
        "doc_id long, text string",
    )
    table = "band_forget_test"
    index_path = str(tmp_path / "bindex")
    delta_dir = str(tmp_path / "bdeltas")
    pairs_out = str(tmp_path / "bpairs")
    try:
        SD.write_band_index(SD.doc_bands(docs), table, index_path)
        dup = spark.createDataFrame(
            [(500, _text("t1_", 12))], "doc_id long, text string"
        )
        SD.probe_and_fold(spark, dup, table, delta_dir, pairs_out, 0)
        before = {
            (r.new_doc, r.other_doc)
            for r in spark.read.parquet(f"{pairs_out}/epoch=0").collect()
        }
        assert (500, 1) in before  # the duplicate pairs with doc 1

        SD.forget_documents_band(
            spark, _ids(spark, 1, 500), table, index_path, delta_dir
        )
        spark.catalog.refreshTable(table)
        assert (
            SD.read_band_index(spark, table)
            .filter(F.col("doc_id").isin(1, 500))
            .count()
            == 0
        )
        # the same duplicate text probed fresh finds no partner left
        SD.probe_and_fold(spark, dup, table, delta_dir, pairs_out, 1)
        after = {
            (r.new_doc, r.other_doc)
            for r in spark.read.parquet(f"{pairs_out}/epoch=1").collect()
        }
        assert not any(1 in p or 500 in p for p in after)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_forget_vectors_ivf_preserves_centroids_pointer(
    spark, sf_correctness, tmp_path
):
    from ai_ready_data_framework_spark.operators import ai
    from ai_ready_data_framework_spark.sources.maintenance import (
        read_ivf_index,
        write_ivf_index,
    )
    from ai_ready_data_framework_spark.streaming import ivf as SI

    assigned, centroids = ai.ivf_fit_assign(spark, sf_correctness)
    name = "ivf_forget_test"
    path = str(tmp_path / "ivf")
    delta_dir = str(tmp_path / "vdeltas")
    try:
        write_ivf_index(assigned, centroids, name, path)
        def _cent_set(df):
            return {
                tuple(
                    tuple(v) if isinstance(v, list) else v for v in r
                )
                for r in df.collect()
            }

        cent_before = _cent_set(read_ivf_index(spark, name, path)[1])
        n_base = spark.table(name).count()
        victims = [
            r.vec_id
            for r in spark.table(name).select("vec_id").limit(5).collect()
        ]
        ids = spark.createDataFrame([(v,) for v in victims], "vec_id long")
        rep = SI.forget_vectors_ivf(spark, ids, name, path, delta_dir)
        assert rep == {
            "removed_rows": len(victims),
            "kept_rows": n_base - len(victims),
        }
        spark.catalog.refreshTable(name)
        assert spark.table(name).count() == n_base - len(victims)
        assert (
            spark.table(name)
            .filter(F.col("vec_id").isin(victims))
            .count()
            == 0
        )
        # erasure must not detach the frozen quantizer: the resolved
        # centroid table (the idx.centroids_path property when a refit
        # set one, else the build-time default — forget_keys carries
        # idx.* properties through the republish) reads back identical
        cent_after = _cent_set(read_ivf_index(spark, name, path)[1])
        assert cent_after == cent_before
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_forget_keys_audit_failure_keeps_live_generation(spark, tmp_path):
    """A forged audit failure must leave the serving index untouched —
    forget inherits the write-audit-publish contract."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    docs = spark.createDataFrame(
        [(d, _text(f"base{d}_")) for d in range(1, 6)],
        "doc_id long, text string",
    )
    table = "gram_forget_audit_test"
    index_path = str(tmp_path / "aindex")
    try:
        SS.write_gram_index(
            gram_postings(docs, min_run=MIN_RUN), table, index_path
        )
        n0 = spark.table(table).count()
        real = M.publish_bucketed_generation

        def sabotaged(spark_, df, *a, **kw):
            kw["audits"] = {"always_fails": lambda staged: False}
            return real(spark_, df, *a, **kw)

        M.publish_bucketed_generation = sabotaged
        try:
            with pytest.raises(M.AuditFailure):
                M.forget_keys(
                    spark,
                    _ids(spark, 1),
                    table,
                    index_path,
                    ("h",),
                    SS.GRAM_INDEX_BUCKETS,
                )
        finally:
            M.publish_bucketed_generation = real
        spark.catalog.refreshTable(table)
        assert spark.table(table).count() == n0  # still generation 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# ---------------------------------------------------------------------------
# VERDICT r11 #2: erasure must reach DERIVED data products, not just
# the three indexes — scrubbed epoch rewrites, span reports, training
# shards, flat chunk/vector materializations.
# ---------------------------------------------------------------------------


def test_forget_in_epoch_dir_scrubbed_and_spans(spark, tmp_path):
    """A forgotten doc's text must vanish from scrubbed_out/epoch=N
    and spans_out/epoch=N; only the partitions that carried it are
    rewritten, the epoch layout survives, and re-runs are no-ops."""
    from ai_ready_data_framework_spark.sources.maintenance import (
        forget_in_epoch_dir,
    )

    index_docs = spark.createDataFrame(
        [(d, _text(f"base{d}_")) for d in range(1, 4)],
        "doc_id long, text string",
    )
    table = "gram_forget_derived"
    index_path = str(tmp_path / "index")
    delta_dir = str(tmp_path / "deltas")
    spans_out = str(tmp_path / "spans")
    scrubbed_out = str(tmp_path / "scrubbed")
    try:
        SS.write_gram_index(
            gram_postings(index_docs, min_run=MIN_RUN), table, index_path
        )
        # epoch 0 carries a copy of base1 (doc 201: spans -> scrub);
        # epoch 1 carries only fresh text (doc 202: no spans)
        for epoch, rows in enumerate(
            [[(201, _text("base1_"))], [(202, _text("fresh_"))]]
        ):
            SS.probe_and_fold_spans(
                spark,
                spark.createDataFrame(rows, "doc_id long, text string"),
                table,
                delta_dir,
                spans_out,
                epoch,
                min_run=MIN_RUN,
                scrubbed_out=scrubbed_out,
            )
        scrub_before = spark.read.parquet(scrubbed_out)
        assert scrub_before.filter("doc_id = 201").count() == 1
        n_before = scrub_before.count()  # eager: files swap under us
        ep1_mtime = max(
            os.path.getmtime(os.path.join(scrubbed_out, "epoch=1", f))
            for f in os.listdir(os.path.join(scrubbed_out, "epoch=1"))
        )

        keys = _ids(spark, 201)
        rep_scrub = forget_in_epoch_dir(spark, scrubbed_out, keys)
        rep_spans = forget_in_epoch_dir(spark, spans_out, keys)
        assert rep_scrub == {"partitions_rewritten": [0], "removed_rows": 1}
        assert rep_spans["partitions_rewritten"] == [0]
        # erased everywhere, survivors intact, layout readable
        scrub_after = spark.read.parquet(scrubbed_out)
        assert scrub_after.filter("doc_id = 201").count() == 0
        assert scrub_after.count() == n_before - 1
        assert (
            spark.read.parquet(spans_out).filter("doc_id = 201").count() == 0
        )
        # the untouched epoch partition was NOT rewritten
        assert ep1_mtime == max(
            os.path.getmtime(os.path.join(scrubbed_out, "epoch=1", f))
            for f in os.listdir(os.path.join(scrubbed_out, "epoch=1"))
        )
        # idempotent
        assert forget_in_epoch_dir(spark, scrubbed_out, keys) == {
            "partitions_rewritten": [],
            "removed_rows": 0,
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_forget_in_training_shards_matches_rescratch(spark, tmp_path):
    """Shard erasure must (a) touch ONLY the shards the key hashes to —
    computed from the key set, no corpus scan — and (b) leave a layout
    row-identical IN CONTENT AND ORDER to re-sharding the scrubbed
    corpus from scratch (write_training_shards' determinism
    contract)."""
    from ai_ready_data_framework_spark.sources.maintenance import (
        forget_in_training_shards,
        write_training_shards,
    )

    docs = spark.createDataFrame(
        [(d, _text(f"t{d}_")) for d in range(1, 41)],
        "doc_id long, text string",
    )
    shards = str(tmp_path / "shards")
    rescratch = str(tmp_path / "rescratch")
    write_training_shards(docs, shards, "doc_id", 4)
    forgotten = [7, 23]
    keys = _ids(spark, *forgotten)

    untouched_mtimes = {}
    for d in os.listdir(shards):
        if d.startswith("__shard="):
            untouched_mtimes[d] = max(
                os.path.getmtime(os.path.join(shards, d, f))
                for f in os.listdir(os.path.join(shards, d))
            )

    rep = forget_in_training_shards(
        spark, shards, keys, "doc_id", n_shards=4
    )
    assert rep["removed_rows"] == len(forgotten)

    write_training_shards(
        docs.filter(~F.col("doc_id").isin(forgotten)),
        rescratch,
        "doc_id",
        4,
    )
    for s in range(4):
        got = [
            tuple(r)
            for r in spark.read.parquet(f"{shards}/__shard={s}").collect()
        ]
        want = [
            tuple(r)
            for r in spark.read.parquet(f"{rescratch}/__shard={s}").collect()
        ]
        assert got == want, f"shard {s} diverged from re-scratch"
    # shards the keys do NOT hash to were never rewritten
    for d, mtime in untouched_mtimes.items():
        s = int(d.split("=")[1])
        if s not in rep["shards_rewritten"]:
            assert mtime == max(
                os.path.getmtime(os.path.join(shards, d, f))
                for f in os.listdir(os.path.join(shards, d))
            ), f"{d} was rewritten needlessly"
    assert len(rep["shards_rewritten"]) < 4 or len(set(
        rep["shards_rewritten"]
    )) == len(rep["shards_rewritten"])
    # idempotent
    rep2 = forget_in_training_shards(spark, shards, keys, "doc_id")
    assert rep2 == {"shards_rewritten": [], "removed_rows": 0}


def test_forget_documents_derived_one_call_everything(spark, tmp_path):
    """The wrapper reaches every artifact class in one call: epoch
    dirs, shard dirs, and a flat chunk materialization — after it, the
    forgotten doc_id appears in NONE of them."""
    from ai_ready_data_framework_spark.sources.maintenance import (
        forget_documents_derived,
        write_training_shards,
    )

    docs = spark.createDataFrame(
        [(d, _text(f"c{d}_")) for d in range(1, 21)],
        "doc_id long, text string",
    )
    epoch_dir = str(tmp_path / "epochs")
    shard_dir = str(tmp_path / "shards")
    chunk_dir = str(tmp_path / "chunks")
    for e in range(2):
        docs.filter(
            (F.col("doc_id") % 2) == e
        ).write.parquet(f"{epoch_dir}/epoch={e}")
    write_training_shards(docs, shard_dir, "doc_id", 3)
    docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("chunk")
    ).write.parquet(chunk_dir)

    rep = forget_documents_derived(
        spark,
        _ids(spark, 5, 12),
        epoch_dirs=(epoch_dir,),
        shard_dirs=(shard_dir,),
        flat_dirs=(chunk_dir,),
        n_shards_by_dir={shard_dir: 3},  # scan-free shard path
    )
    assert rep["removed_rows"] > 0
    for path in (epoch_dir, shard_dir, chunk_dir):
        surviving = (
            spark.read.parquet(path)
            .filter(F.col("doc_id").isin([5, 12]))
            .count()
        )
        assert surviving == 0, path
    # survivors conserved in the flat dir: 18 docs' chunks remain
    assert (
        spark.read.parquet(chunk_dir).select("doc_id").distinct().count()
        == 18
    )
    # idempotent end-to-end
    rep2 = forget_documents_derived(
        spark,
        _ids(spark, 5, 12),
        epoch_dirs=(epoch_dir,),
        shard_dirs=(shard_dir,),
        flat_dirs=(chunk_dir,),
    )
    assert rep2["removed_rows"] == 0


def test_forget_derived_audit_failure_keeps_live_data(
    spark, tmp_path, monkeypatch
):
    """Crash-safety: if the staged rewrite fails its audits, the live
    flat dir keeps serving the pre-forget data (the staged swap never
    happens) and a later honest re-run converges."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    docs = spark.createDataFrame(
        [(d, _text(f"a{d}_")) for d in range(1, 6)],
        "doc_id long, text string",
    )
    flat = str(tmp_path / "flat")
    docs.write.parquet(flat)

    real_wap = M.write_audit_publish

    def sabotaged(spark_, df, path, audits):
        audits = dict(audits)
        audits["sabotage"] = lambda staged: False
        return real_wap(spark_, df, path, audits)

    monkeypatch.setattr(M, "write_audit_publish", sabotaged)
    with pytest.raises(M.AuditFailure):
        M._forget_in_flat_dir(
            spark, flat, _ids(spark, 3), "doc_id"
        )
    # live data untouched — doc 3 still served
    assert spark.read.parquet(flat).filter("doc_id = 3").count() == 1
    monkeypatch.setattr(M, "write_audit_publish", real_wap)
    rep = M._forget_in_flat_dir(spark, flat, _ids(spark, 3), "doc_id")
    assert rep["removed_rows"] == 1
    assert spark.read.parquet(flat).filter("doc_id = 3").count() == 0


def test_forget_then_replay_race_gram_index(spark, tmp_path):
    """VERDICT r11 #4 — the erasure twin of the premature-fold race:
    forget_documents_gram's docstring tells callers a checkpoint-loss
    REPLAY of a pre-forget epoch would re-land the forgotten grams in
    the delta dir. Prove the machinery converges anyway: the
    compact-first wrapper records the epoch as FOLDED in the table
    manifest, so (a) the replayed delta is invisible to every later
    probe (folded epochs are excluded from the probe set), (b) the
    next maintenance pass refuses to fold it back and instead deletes
    the re-landed file — the detect-and-re-scrub the docstring
    promises — and (c) the republished base never regains the
    forgotten postings."""
    from ai_ready_data_framework_spark.sources.maintenance import (
        _delta_epochs_present,
        _table_location,
    )

    index_docs = spark.createDataFrame(
        [(d, _text(f"base{d}_")) for d in range(1, 4)],
        "doc_id long, text string",
    )
    table = "gram_forget_replay"
    index_path = str(tmp_path / "index")
    delta_dir = str(tmp_path / "deltas")
    spans_out = str(tmp_path / "spans")
    batch0 = spark.createDataFrame(
        [(301, _text("base1_"))], "doc_id long, text string"
    )
    try:
        SS.write_gram_index(
            gram_postings(index_docs, min_run=MIN_RUN), table, index_path
        )
        SS.probe_and_fold_spans(
            spark, batch0, table, delta_dir, spans_out, 0, min_run=MIN_RUN
        )
        SS.forget_documents_gram(
            spark, _ids(spark, 1, 301), table, index_path, delta_dir
        )

        def forgotten_in_base() -> int:
            return (
                spark.read.parquet(_table_location(spark, table))
                .filter(F.col("doc_id").isin([1, 301]))
                .count()
            )

        assert forgotten_in_base() == 0

        # checkpoint-loss replay of the pre-forget epoch: the batch's
        # grams RE-LAND in delta_dir/epoch=0
        SS.probe_and_fold_spans(
            spark, batch0, table, delta_dir, spans_out, 0, min_run=MIN_RUN
        )
        assert 0 in _delta_epochs_present(spark, delta_dir)
        # ... but the epoch is manifest-folded, so a NEW epoch probing
        # the forgotten text matches NOTHING (base scrubbed, replayed
        # delta excluded)
        batch1 = spark.createDataFrame(
            [(302, _text("base1_"))], "doc_id long, text string"
        )
        SS.probe_and_fold_spans(
            spark, batch1, table, delta_dir, spans_out, 1, min_run=MIN_RUN
        )
        assert (
            spark.read.parquet(spans_out).filter("doc_id = 302").count() == 0
        )

        # maintenance detects and re-scrubs: the replayed epoch is NOT
        # folded back (base stays clean) and its landing file is gone
        SS.compact_gram_index(spark, table, index_path, delta_dir)
        assert forgotten_in_base() == 0
        assert 0 not in _delta_epochs_present(spark, delta_dir)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# ---------------------------------------------------------------------------
# Landing-zone tombstones (r12): the streaming half of erasure.
# ---------------------------------------------------------------------------


def test_tombstone_roundtrip_and_apply(spark, tmp_path):
    from ai_ready_data_framework_spark.sources.maintenance import (
        apply_forget_tombstones,
        read_forget_tombstones,
        write_forget_tombstones,
    )

    ts_dir = str(tmp_path / "tombstones")
    # no takedown yet -> None, and apply is the identity
    assert read_forget_tombstones(spark, ts_dir) is None
    assert read_forget_tombstones(spark, None) is None
    batch = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    assert apply_forget_tombstones(batch, None).count() == 3

    # append-only accumulation + distinct on read (overlapping sets)
    assert write_forget_tombstones(spark, _ids(spark, 1, 2), ts_dir) == 2
    assert write_forget_tombstones(spark, _ids(spark, 2, 3), ts_dir) == 2
    ts = read_forget_tombstones(spark, ts_dir)
    assert {r.doc_id for r in ts.collect()} == {1, 2, 3}
    assert apply_forget_tombstones(batch, ts).count() == 0

    # alternate key column (the IVF vec_id case)
    vecs = spark.createDataFrame([(10,), (11,)], "vec_id long")
    vts_dir = str(tmp_path / "vec_tombstones")
    write_forget_tombstones(
        spark, spark.createDataFrame([(10,)], "vec_id long"),
        vts_dir, key_col="vec_id",
    )
    kept = apply_forget_tombstones(
        vecs, read_forget_tombstones(spark, vts_dir)
    )
    assert [r.vec_id for r in kept.collect()] == [11]

    # plan shape: the tombstone side BROADCASTS into a left-anti join —
    # the (rate-sized) batch side must never reshuffle for erasure
    plan = kept._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    plan = plan.split("== Initial Plan ==")[0]
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_tombstones_survive_checkpoint_loss_replay(spark, tmp_path):
    """The true end-to-end erasure race through the REAL stream driver:
    ingest a landing file carrying a doc, forget the doc (takedown
    writes the tombstone), then lose the checkpoint and re-run the
    stream over the same landing zone. The replayed batch must be
    anti-joined against the tombstone set BEFORE probing/landing, so
    the forgotten doc's grams, spans, and scrubbed text re-land
    NOWHERE — while the surviving doc's replay stays the usual
    epoch-keyed no-op."""
    import shutil

    from ai_ready_data_framework_spark.operators.ai import gram_postings
    from ai_ready_data_framework_spark.sources.maintenance import (
        _table_location,
    )

    index_docs = spark.createDataFrame(
        [(d, _text(f"base{d}_")) for d in range(1, 4)],
        "doc_id long, text string",
    )
    table = "gram_tombstone_replay"
    index_path = str(tmp_path / "index")
    delta_dir = str(tmp_path / "deltas")
    spans_out = str(tmp_path / "spans")
    scrubbed_out = str(tmp_path / "scrubbed")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    ts_dir = str(tmp_path / "tombstones")
    try:
        SS.write_gram_index(
            gram_postings(index_docs, min_run=MIN_RUN), table, index_path
        )
        # one landing file: doc 401 copies base1 (will be forgotten),
        # doc 402 is fresh (survivor)
        spark.createDataFrame(
            [(401, _text("base1_")), (402, _text("fresh_"))],
            "doc_id long, text string",
        ).coalesce(1).write.parquet(zone)
        kw = dict(min_run=MIN_RUN, scrubbed_out=scrubbed_out,
                  tombstone_dir=ts_dir)
        SS.run_span_scrub_stream(
            spark, zone, table, delta_dir, spans_out, ckpt, **kw
        )
        assert (
            spark.read.parquet(scrubbed_out).filter("doc_id = 401").count()
            == 1
        )

        SS.forget_documents_gram(
            spark, _ids(spark, 1, 401), table, index_path, delta_dir,
            tombstone_dir=ts_dir,
        )
        # derived epoch artifacts scrubbed via the derived wrapper
        from ai_ready_data_framework_spark.sources.maintenance import (
            forget_documents_derived,
        )

        forget_documents_derived(
            spark, _ids(spark, 1, 401),
            epoch_dirs=(spans_out, scrubbed_out),
        )

        # CHECKPOINT LOSS: the stream restarts from scratch over the
        # same landing zone and replays the pre-forget file
        shutil.rmtree(ckpt)
        SS.run_span_scrub_stream(
            spark, zone, table, delta_dir, spans_out, ckpt, **kw
        )

        # the forgotten doc re-landed NOWHERE
        for path in (delta_dir, spans_out, scrubbed_out):
            hits = (
                spark.read.parquet(path)
                .filter(F.col("doc_id").isin([1, 401]))
                .count()
            )
            assert hits == 0, path
        base_hits = (
            spark.read.parquet(_table_location(spark, table))
            .filter(F.col("doc_id").isin([1, 401]))
            .count()
        )
        assert base_hits == 0
        # the survivor replayed normally (epoch-keyed overwrite)
        assert (
            spark.read.parquet(scrubbed_out).filter("doc_id = 402").count()
            == 1
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_tombstones_band_stream_twin(spark, tmp_path):
    """Twin symmetry (the repo's race tests always cover both index
    twins): the BAND dedup stream given a tombstone_dir drops a
    forgotten doc from a checkpoint-loss replay — its bands re-land in
    neither the delta dir nor the pair set, while the survivor's
    replay stays the epoch-keyed no-op."""
    import shutil

    from ai_ready_data_framework_spark.sources.maintenance import (
        _table_location,
        write_band_index,
    )

    # near-identical long texts so the banded MinHash actually pairs
    base_text = _text("w", 30)
    index_docs = spark.createDataFrame(
        [(1, base_text), (2, _text("z", 30))],
        "doc_id long, text string",
    )
    table = "band_tombstone_replay"
    index_path = str(tmp_path / "index")
    delta_dir = str(tmp_path / "deltas")
    pairs_out = str(tmp_path / "pairs")
    zone = str(tmp_path / "zone")
    ckpt = str(tmp_path / "ckpt")
    ts_dir = str(tmp_path / "tombstones")
    try:
        write_band_index(SD.doc_bands(index_docs), table, index_path)
        # doc 501 duplicates base doc 1 (will be forgotten); 502 is new
        spark.createDataFrame(
            [(501, base_text), (502, _text("q", 30))],
            "doc_id long, text string",
        ).coalesce(1).write.parquet(zone)
        SD.run_incremental_dedup_stream(
            spark, zone, table, delta_dir, pairs_out, ckpt,
            tombstone_dir=ts_dir,
        )
        assert (
            spark.read.parquet(pairs_out)
            .filter("new_doc = 501 OR other_doc = 501")
            .count()
            > 0
        )

        SD.forget_documents_band(
            spark, _ids(spark, 1, 501), table, index_path, delta_dir,
            tombstone_dir=ts_dir,
        )
        from ai_ready_data_framework_spark.sources.maintenance import (
            forget_documents_derived,
        )

        # the pair rows reference the forgotten doc under BOTH roles
        for col in ("new_doc", "other_doc"):
            forget_documents_derived(
                spark,
                spark.createDataFrame([(1,), (501,)], f"{col} long"),
                epoch_dirs=(pairs_out,),
                key_col=col,
            )

        shutil.rmtree(ckpt)
        SD.run_incremental_dedup_stream(
            spark, zone, table, delta_dir, pairs_out, ckpt,
            tombstone_dir=ts_dir,
        )

        for path, cols in ((delta_dir, ("doc_id",)),
                           (pairs_out, ("new_doc", "other_doc"))):
            df = spark.read.parquet(path)
            for col in cols:
                hits = df.filter(F.col(col).isin([1, 501])).count()
                assert hits == 0, (path, col)
        assert (
            spark.read.parquet(_table_location(spark, table))
            .filter(F.col("doc_id").isin([1, 501]))
            .count()
            == 0
        )
        # survivor's bands re-landed normally
        assert (
            spark.read.parquet(delta_dir).filter("doc_id = 502").count() > 0
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_verify_forgotten_audits_every_artifact_class(spark, tmp_path):
    """The audit half of erasure: verify_forgotten re-derives survival
    counts from the serving artifacts themselves — dirty before the
    takedown, zero after, with per-target attribution and key-column
    overrides for pair-shaped targets."""
    from ai_ready_data_framework_spark.operators.ai import gram_postings
    from ai_ready_data_framework_spark.sources.maintenance import (
        forget_documents_derived,
        verify_forgotten,
        write_training_shards,
    )

    docs = spark.createDataFrame(
        [(d, _text(f"v{d}_")) for d in range(1, 11)],
        "doc_id long, text string",
    )
    table = "gram_verify_forgotten"
    index_path = str(tmp_path / "index")
    epoch_dir = str(tmp_path / "epochs")
    shard_dir = str(tmp_path / "shards")
    pair_dir = str(tmp_path / "pairs")
    try:
        SS.write_gram_index(
            gram_postings(docs, min_run=MIN_RUN), table, index_path
        )
        docs.write.parquet(f"{epoch_dir}/epoch=0")
        write_training_shards(docs, shard_dir, "doc_id", 3)
        spark.createDataFrame(
            [(3, 7, 0.9)], "new_doc long, other_doc long, est_jaccard double"
        ).write.parquet(pair_dir)

        kw = dict(
            tables=(table,),
            epoch_dirs=(epoch_dir,),
            shard_dirs=(shard_dir,),
            flat_dirs=(pair_dir,),
            key_cols_by_target={pair_dir: "new_doc"},
        )
        keys = _ids(spark, 3)
        before = verify_forgotten(spark, keys, **kw)
        assert not before["clean"]
        assert before["targets"][pair_dir] == 1
        assert before["targets"][table] == 7  # 10-token doc, 4-grams
        assert before["targets"][epoch_dir] == 1
        assert before["targets"][shard_dir] == 1

        SS.forget_documents_gram(
            spark, keys, table, index_path, str(tmp_path / "deltas")
        )
        forget_documents_derived(
            spark, keys, epoch_dirs=(epoch_dir,), shard_dirs=(shard_dir,)
        )
        forget_documents_derived(
            spark,
            spark.createDataFrame([(3,)], "new_doc long"),
            flat_dirs=(pair_dir,),
            key_col="new_doc",
        )
        after = verify_forgotten(spark, keys, **kw)
        assert after["clean"], after
        assert set(after["targets"].values()) == {0}

        # a missing index table fails loudly, like forget_keys
        with pytest.raises(ValueError, match="does not exist"):
            verify_forgotten(spark, keys, tables=("no_such_index",))
        # ... and so does a missing/typo'd dir: the audit must never
        # certify an artifact it did not inspect (code-review r12)
        with pytest.raises(ValueError, match="does not exist"):
            verify_forgotten(
                spark, keys, flat_dirs=(str(tmp_path / "ghost"),)
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_tombstones_decontam_stream(spark, tmp_path):
    """The stream-static decontamination driver honors the tombstone
    set too: after a takedown, a checkpoint-loss replay of the training
    drop neither reports spans for the forgotten doc nor rewrites its
    scrubbed text — the survivor's replay is unchanged."""
    import shutil

    from ai_ready_data_framework_spark.operators.ai import gram_postings
    from ai_ready_data_framework_spark.sources.maintenance import (
        write_forget_tombstones,
    )

    bench_docs = spark.createDataFrame(
        [(d, _text(f"eval{d}_")) for d in range(1, 4)],
        "doc_id long, text string",
    )
    table = "decontam_tombstone"
    zone = str(tmp_path / "zone")
    spans_out = str(tmp_path / "spans")
    scrubbed_out = str(tmp_path / "scrubbed")
    ckpt = str(tmp_path / "ckpt")
    ts_dir = str(tmp_path / "tombstones")
    try:
        SS.write_gram_index(
            gram_postings(bench_docs, min_run=MIN_RUN),
            table,
            str(tmp_path / "index"),
        )
        # train doc 601 leaks eval1 text (will be forgotten), 602 clean
        spark.createDataFrame(
            [(601, _text("eval1_")), (602, _text("clean_"))],
            "doc_id long, text string",
        ).coalesce(1).write.parquet(zone)
        kw = dict(min_run=MIN_RUN, scrubbed_out=scrubbed_out,
                  tombstone_dir=ts_dir)
        SS.run_decontam_stream(spark, zone, table, spans_out, ckpt, **kw)
        assert (
            spark.read.parquet(spans_out).filter("doc_id = 601").count() == 1
        )

        write_forget_tombstones(spark, _ids(spark, 601), ts_dir)
        shutil.rmtree(ckpt)
        SS.run_decontam_stream(spark, zone, table, spans_out, ckpt, **kw)
        for path in (spans_out, scrubbed_out):
            assert (
                spark.read.parquet(path).filter("doc_id = 601").count() == 0
            ), path
        assert (
            spark.read.parquet(scrubbed_out).filter("doc_id = 602").count()
            == 1
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_compact_forget_tombstones(spark, tmp_path):
    """Tombstone maintenance: N appended takedown files fold into one
    deduplicated file with the EXACT same key set (losing a key would
    silently un-forget someone), applies identically afterwards, and
    the no-takedowns case is a clean no-op."""
    from ai_ready_data_framework_spark.sources.maintenance import (
        apply_forget_tombstones,
        compact_forget_tombstones,
        read_forget_tombstones,
        write_forget_tombstones,
    )

    ts_dir = str(tmp_path / "tombstones")
    assert compact_forget_tombstones(spark, ts_dir) == {
        "keys": 0,
        "compacted": False,
    }
    write_forget_tombstones(spark, _ids(spark, 1, 2), ts_dir)
    write_forget_tombstones(spark, _ids(spark, 2, 3), ts_dir)
    write_forget_tombstones(spark, _ids(spark, 4), ts_dir)
    n_files_before = sum(
        1 for f in os.listdir(ts_dir) if f.endswith(".parquet")
    )
    assert n_files_before >= 3

    rep = compact_forget_tombstones(spark, ts_dir)
    assert rep == {"keys": 4, "compacted": True}
    assert (
        sum(1 for f in os.listdir(ts_dir) if f.endswith(".parquet")) == 1
    )
    ts = read_forget_tombstones(spark, ts_dir)
    assert {r.doc_id for r in ts.collect()} == {1, 2, 3, 4}
    batch = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 7)], "doc_id long, text string"
    )
    assert {
        r.doc_id for r in apply_forget_tombstones(batch, ts).collect()
    } == {5, 6}
    # takedowns keep working after compaction (append to the one file's
    # dir), and a re-compact converges
    write_forget_tombstones(spark, _ids(spark, 5), ts_dir)
    assert compact_forget_tombstones(spark, ts_dir)["keys"] == 5


def test_staging_leftover_inside_partitioned_root_is_invisible(
    spark, tmp_path, monkeypatch
):
    """Code-review r12: the staged-rewrite dir for a PARTITION target
    (scrubbed_out/epoch=N) must be invisible to Spark's partition
    discovery on the root — a failed audit deliberately KEEPS staging,
    and a suffix-only name (epoch=5__staging) would flip the epoch
    column to string and re-expose the staged copy. The DOT-prefixed
    sibling keeps the root readable, int-typed, and duplicate-free
    with the leftover in place."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    docs = spark.createDataFrame(
        [(d, f"t{d}") for d in range(1, 7)], "doc_id long, text string"
    )
    root = str(tmp_path / "epochs")
    for e in range(2):
        docs.filter((F.col("doc_id") % 2) == e).write.parquet(
            f"{root}/epoch={e}"
        )
    n_total = spark.read.parquet(root).count()

    real_wap = M.write_audit_publish

    def sabotaged(spark_, df, path, audits):
        audits = dict(audits)
        audits["sabotage"] = lambda staged: False
        return real_wap(spark_, df, path, audits)

    monkeypatch.setattr(M, "write_audit_publish", sabotaged)
    with pytest.raises(M.AuditFailure):
        M.forget_in_epoch_dir(spark, root, _ids(spark, 2))
    # staging was kept (for inspection) as a dot-prefixed sibling...
    leftovers = [d for d in os.listdir(root) if "__staging" in d]
    assert leftovers and all(d.startswith(".epoch") for d in leftovers)
    # ...and the root reads EXACTLY as before: same rows, epoch still
    # int-typed, no phantom '0__staging' partition value
    after = spark.read.parquet(root)
    assert after.count() == n_total
    assert dict(after.dtypes)["epoch"] in ("int", "bigint")
    assert after.filter("doc_id = 2").count() == 1  # live data serving
    monkeypatch.setattr(M, "write_audit_publish", real_wap)
    rep = M.forget_in_epoch_dir(spark, root, _ids(spark, 2))
    assert rep["removed_rows"] == 1


def test_forget_derived_skips_missing_targets(spark, tmp_path):
    """Code-review r12: a retired/missing dir anywhere in the schedule
    must not abort the remaining targets — enforcement converges,
    reporting the miss, while the real targets still get erased."""
    from ai_ready_data_framework_spark.sources.maintenance import (
        forget_documents_derived,
    )

    docs = spark.createDataFrame(
        [(d, f"t{d}") for d in range(1, 6)], "doc_id long, text string"
    )
    real_flat = str(tmp_path / "real_flat")
    docs.write.parquet(real_flat)
    rep = forget_documents_derived(
        spark,
        _ids(spark, 2),
        epoch_dirs=(str(tmp_path / "gone_epochs"),),
        shard_dirs=(str(tmp_path / "gone_shards"),),
        flat_dirs=(real_flat,),
    )
    assert rep["targets"][str(tmp_path / "gone_shards")]["missing"]
    assert rep["removed_rows"] == 1
    assert spark.read.parquet(real_flat).filter("doc_id = 2").count() == 0


# ---------------------------------------------------------------------------
# r13 (VERDICT r12 #1/#2/#5/#6 + ADVICE r12): erasure through the
# Hadoop FS API (file:// scheme URIs), zero-match republish skip,
# multi-role audit, crash-window publish recovery, oversized-shard
# guard, landing-zone retirement.
# ---------------------------------------------------------------------------


def test_erasure_roundtrip_through_file_scheme_uris(spark, tmp_path):
    """VERDICT r12 #1: every erasure path must enforce through the
    Hadoop FS API. An explicit ``file://`` scheme URI — which the old
    os.* checks reject (os.path.isdir('file:///x') is False) —
    exercises the same code path an hdfs:///s3a:// deployment takes:
    tombstone write/read/apply/compact AND every forget-target class
    must work, not silently no-op, through URIs."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    # tombstone roundtrip through file:// URIs
    ts_dir = "file://" + str(tmp_path / "tombstones")
    assert M.read_forget_tombstones(spark, ts_dir) is None  # absent != error
    assert M.write_forget_tombstones(spark, _ids(spark, 1, 2), ts_dir) == 2
    ts = M.read_forget_tombstones(spark, ts_dir)
    assert {r.doc_id for r in ts.collect()} == {1, 2}
    batch = spark.createDataFrame(
        [(1, "a"), (3, "c")], "doc_id long, text string"
    )
    assert [
        r.doc_id for r in M.apply_forget_tombstones(batch, ts).collect()
    ] == [3]
    assert M.compact_forget_tombstones(spark, ts_dir) == {
        "keys": 2,
        "compacted": True,
    }
    assert {
        r.doc_id
        for r in M.read_forget_tombstones(spark, ts_dir).collect()
    } == {1, 2}

    # every forget-target class addressed by file:// URI — the os.*
    # code returned missing/empty here and silently skipped the erasure
    docs = spark.createDataFrame(
        [(d, _text(f"u{d}_")) for d in range(1, 6)],
        "doc_id long, text string",
    )
    flat_local = str(tmp_path / "flat")
    docs.write.parquet(flat_local)
    epoch_local = str(tmp_path / "epochs")
    for e in range(2):
        docs.filter((F.col("doc_id") % 2) == e).write.parquet(
            f"{epoch_local}/epoch={e}"
        )
    shard_local = str(tmp_path / "shards")
    M.write_training_shards(docs, shard_local, "doc_id", 2)

    keys = _ids(spark, 2)
    rep = M._forget_in_flat_dir(spark, "file://" + flat_local, keys, "doc_id")
    assert rep == {"removed_rows": 1, "kept_rows": 4, "rewritten": True}
    rep = M.forget_in_epoch_dir(spark, "file://" + epoch_local, keys)
    assert rep["removed_rows"] == 1
    rep = M.forget_in_training_shards(
        spark, "file://" + shard_local, keys, "doc_id", n_shards=2
    )
    assert rep["removed_rows"] == 1
    # the audit half answers through URIs too (and certifies zero)
    audit = M.verify_forgotten(
        spark,
        keys,
        epoch_dirs=("file://" + epoch_local,),
        shard_dirs=("file://" + shard_local,),
        flat_dirs=("file://" + flat_local,),
    )
    assert audit["clean"], audit


def test_forget_keys_zero_match_skips_republish(spark, tmp_path):
    """Code-review r12: re-running a completed deletion schedule must
    not pay a compaction-sized republish per index — a takedown that
    matches ZERO live postings advances no generation and rewrites no
    files; the converging re-run costs one semi-join."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    docs = spark.createDataFrame(
        [(d, _text(f"base{d}_")) for d in range(1, 6)],
        "doc_id long, text string",
    )
    table = "gram_forget_zero_skip"
    index_path = str(tmp_path / "index")
    delta_dir = str(tmp_path / "deltas")
    try:
        SS.write_gram_index(
            gram_postings(docs, min_run=MIN_RUN), table, index_path
        )
        rep = SS.forget_documents_gram(
            spark, _ids(spark, 1), table, index_path, delta_dir
        )
        assert rep["removed_rows"] > 0
        gen1 = M._generation_of(spark, table)
        loc1 = M._table_location(spark, table)
        assert gen1 == 1
        rep2 = SS.forget_documents_gram(
            spark, _ids(spark, 1), table, index_path, delta_dir
        )
        assert rep2["removed_rows"] == 0
        assert M._generation_of(spark, table) == gen1  # no new generation
        assert M._table_location(spark, table) == loc1  # same files serving
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_verify_forgotten_multi_role_target(spark, tmp_path):
    """ADVICE r12 (medium): one pair-shaped target audited under BOTH
    key roles in ONE call — a survivor under the second role must
    block the clean verdict (the old target-keyed report collapsed two
    roles into one entry and could falsely certify erasure)."""
    from ai_ready_data_framework_spark.sources.maintenance import (
        verify_forgotten,
    )

    pair_dir = str(tmp_path / "pairs")
    spark.createDataFrame(
        [(1, 9, 0.8), (8, 3, 0.7)],
        "new_doc long, other_doc long, est_jaccard double",
    ).write.parquet(pair_dir)
    keys = _ids(spark, 3)  # survives ONLY under other_doc
    rep = verify_forgotten(
        spark,
        keys,
        flat_dirs=(pair_dir,),
        key_cols_by_target={pair_dir: ("new_doc", "other_doc")},
    )
    assert not rep["clean"], rep
    assert rep["targets"][f"{pair_dir}#new_doc"] == 0
    assert rep["targets"][f"{pair_dir}#other_doc"] == 1
    # a single-string override keeps the old report shape — and shows
    # exactly the false-certification the tuple form exists to prevent
    rep_one = verify_forgotten(
        spark,
        keys,
        flat_dirs=(pair_dir,),
        key_cols_by_target={pair_dir: "new_doc"},
    )
    assert rep_one["targets"] == {pair_dir: 0}


def test_publish_swap_crash_window_recovery(spark, tmp_path):
    """ADVICE r12: the publish protocol must never delete live data
    before its replacement is in place. Simulate the crash between
    rename-aside and rename-in (tomb present, live absent): recovery
    restores the OLD data; a full re-publish over the crashed state
    converges to the NEW data; a leftover tomb after a completed swap
    is dropped without touching the live dir."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    live = str(tmp_path / "live")
    old = spark.createDataFrame([(1, "old")], "doc_id long, v string")
    new = spark.createDataFrame([(2, "new")], "doc_id long, v string")
    old.write.parquet(live)
    tomb = M._swap_tomb_path(live)

    # crash state: live renamed aside, staging never renamed in
    os.rename(live, tomb)
    assert not os.path.exists(live)
    M._recover_publish(spark, live)
    assert [r.v for r in spark.read.parquet(live).collect()] == ["old"]
    assert not os.path.exists(tomb)

    # a re-run of the publish over a crashed state converges to NEW
    os.rename(live, tomb)
    M.write_audit_publish(
        spark, new, live, audits={"nonempty": lambda d: d.count() == 1}
    )
    assert [r.v for r in spark.read.parquet(live).collect()] == ["new"]
    assert not os.path.exists(tomb)

    # leftover tomb AFTER a completed swap: dropped, live untouched
    old.write.parquet(tomb)
    M._recover_publish(spark, live)
    assert not os.path.exists(tomb)
    assert [r.v for r in spark.read.parquet(live).collect()] == ["new"]


def test_forget_in_training_shards_warns_on_oversized_shard(
    spark, tmp_path
):
    """VERDICT r12 #6: the one-file-per-shard rewrite is a single-task
    job — pointing it at an oversized legacy shard must WARN (naming
    the shard) while still erasing; a healthy layout stays silent."""
    import warnings

    from ai_ready_data_framework_spark.sources.maintenance import (
        forget_in_training_shards,
        write_training_shards,
    )

    docs = spark.createDataFrame(
        [(d, _text(f"s{d}_")) for d in range(1, 21)],
        "doc_id long, text string",
    )
    shards = str(tmp_path / "shards")
    write_training_shards(docs, shards, "doc_id", 2)
    with pytest.warns(UserWarning, match="single-task rewrite"):
        rep = forget_in_training_shards(
            spark, shards, _ids(spark, 5), "doc_id",
            n_shards=2, max_rewrite_bytes=1,
        )
    assert rep["removed_rows"] == 1  # erasure proceeded despite the warn
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # healthy default threshold: silent
        rep2 = forget_in_training_shards(
            spark, shards, _ids(spark, 6), "doc_id", n_shards=2
        )
    assert rep2["removed_rows"] == 1


def test_retire_landing_zone_lifecycle(spark, tmp_path):
    """VERDICT r12 #5: a zone and its tombstone set retire TOGETHER in
    one audited call — refused while a deployed stream's checkpoint
    (or an active query on the zone) still exists, converging once
    decommissioned, idempotent on re-run."""
    import shutil
    import time

    from ai_ready_data_framework_spark.sources import maintenance as M

    zone = str(tmp_path / "zone")
    ts_dir = str(tmp_path / "tombstones")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    ).write.parquet(zone)
    M.write_forget_tombstones(spark, _ids(spark, 1), ts_dir)

    os.makedirs(ckpt)  # a deployed stream's checkpointLocation
    with pytest.raises(RuntimeError, match="live checkpoints"):
        M.retire_landing_zone(spark, zone, ts_dir, checkpoint_dirs=(ckpt,))
    # refusal left both artifacts intact
    assert M.read_forget_tombstones(spark, ts_dir) is not None
    assert spark.read.parquet(zone).count() == 2

    # an ACTIVE stream reading the zone refuses even with no
    # checkpoint listed (belt and braces)
    q = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(zone)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "qckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while not q.recentProgress and time.time() < deadline:
            time.sleep(0.5)
        assert q.recentProgress, "stream never reported progress"
        with pytest.raises(RuntimeError, match="active stream"):
            M.retire_landing_zone(spark, zone, ts_dir)
    finally:
        q.stop()
        q.awaitTermination(30)

    # decommission (stream stopped, checkpoint deleted) -> retires both
    shutil.rmtree(ckpt)
    rep = M.retire_landing_zone(spark, zone, ts_dir, checkpoint_dirs=(ckpt,))
    assert rep == {"zone_removed": True, "tombstones_removed": True}
    assert not os.path.exists(zone) and not os.path.exists(ts_dir)
    # idempotent re-run of a completed retirement
    rep2 = M.retire_landing_zone(spark, zone, ts_dir, checkpoint_dirs=(ckpt,))
    assert rep2 == {"zone_removed": False, "tombstones_removed": False}


def test_crashed_swap_recovery_reaches_every_forget_path(spark, tmp_path):
    """Code-review r13: a rewrite that crashed between rename-aside
    and rename-in leaves the live dir ABSENT and its data in a
    dot-tomb — invisible to readers and to the existence/blast-radius
    checks of every forget entry point, which would otherwise skip the
    target forever with un-erased rows stranded on disk. Each entry
    point must recover the tomb before enumerating targets, and
    verify_forgotten must refuse to certify while a tomb exists."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    docs = spark.createDataFrame(
        [(d, _text(f"r{d}_")) for d in range(1, 6)],
        "doc_id long, text string",
    )

    # flat dir: crash state -> recovered, erased, NOT reported missing
    flat = str(tmp_path / "flat")
    docs.write.parquet(flat)
    os.rename(flat, M._swap_tomb_path(flat))
    rep = M._forget_in_flat_dir(spark, flat, _ids(spark, 2), "doc_id")
    assert rep == {"removed_rows": 1, "kept_rows": 4, "rewritten": True}
    assert spark.read.parquet(flat).count() == 4

    # epoch root: the crashed partition must re-enter the blast radius
    root = str(tmp_path / "epochs")
    for e in range(2):
        docs.filter((F.col("doc_id") % 2) == e).write.parquet(
            f"{root}/epoch={e}"
        )
    os.rename(f"{root}/epoch=1", os.path.join(root, ".epoch=1__tomb"))
    # ...and the audit refuses to certify while the tomb exists
    with pytest.raises(ValueError, match="crashed-publish tombs"):
        M.verify_forgotten(spark, _ids(spark, 3), epoch_dirs=(root,))
    rep = M.forget_in_epoch_dir(spark, root, _ids(spark, 3))  # 3 is odd
    assert rep == {"partitions_rewritten": [1], "removed_rows": 1}
    assert spark.read.parquet(root).count() == 4  # partition restored
    after = M.verify_forgotten(spark, _ids(spark, 3), epoch_dirs=(root,))
    assert after["clean"]

    # shard layout: a tombed shard is restored before candidates run
    shards = str(tmp_path / "shards")
    M.write_training_shards(docs, shards, "doc_id", 2)
    os.rename(
        f"{shards}/__shard=0", os.path.join(shards, ".__shard=0__tomb")
    )
    rep = M.forget_in_training_shards(
        spark, shards, _ids(spark, 4), "doc_id", n_shards=2
    )
    assert rep["removed_rows"] == 1
    assert spark.read.parquet(shards).count() == 4

    # compact over a crashed swap converges instead of raising
    cdir = str(tmp_path / "compactme")
    docs.write.parquet(cdir)
    os.rename(cdir, M._swap_tomb_path(cdir))
    M.compact(spark, cdir)
    assert spark.read.parquet(cdir).count() == 5


def test_erasure_fails_loudly_on_unresolvable_scheme(spark, tmp_path):
    """ADVICE r12: tombstone/erasure enforcement silently turning off
    is the one failure mode the subsystem cannot have. A URI whose
    scheme no FileSystem can serve must RAISE from every enforcement
    entry point — never return 'no tombstones' / 'missing target'."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    bad = "nosuchscheme://bucket/path"
    with pytest.raises(Exception, match="[Nn]o FileSystem for scheme"):
        M.read_forget_tombstones(spark, bad)
    with pytest.raises(Exception, match="[Nn]o FileSystem for scheme"):
        M._forget_in_flat_dir(spark, bad, _ids(spark, 1), "doc_id")
    with pytest.raises(Exception, match="[Nn]o FileSystem for scheme"):
        M.forget_in_training_shards(spark, bad, _ids(spark, 1), "doc_id")
    with pytest.raises(Exception, match="[Nn]o FileSystem for scheme"):
        M.verify_forgotten(spark, _ids(spark, 1), flat_dirs=(bad,))


def test_verify_refuses_sibling_tomb_of_flat_target(spark, tmp_path):
    """Code-review r13: a flat-dir rewrite tombs the target's
    dot-SIBLING (not a child), and a crash after rename-in but before
    tomb deletion leaves the full pre-erasure copy there — the audit
    must refuse to certify until the schedule's re-run drops it."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    docs = spark.createDataFrame(
        [(d, _text(f"s{d}_")) for d in range(1, 4)],
        "doc_id long, text string",
    )
    flat = str(tmp_path / "flat")
    docs.write.parquet(flat)
    docs.write.parquet(M._swap_tomb_path(flat))  # crashed-swap leftover
    with pytest.raises(ValueError, match="crashed-publish tombs"):
        M.verify_forgotten(spark, _ids(spark, 1), flat_dirs=(flat,))
    # the deletion schedule's re-run converges: recovery drops the
    # leftover tomb, the forget rewrites, the audit certifies
    M._forget_in_flat_dir(spark, flat, _ids(spark, 1), "doc_id")
    after = M.verify_forgotten(spark, _ids(spark, 1), flat_dirs=(flat,))
    assert after["clean"]


def test_forget_in_epoch_dir_resolves_escaped_partition_spellings(
    spark, tmp_path
):
    """Code-review r13: partition DIRECTORY names are escaped on disk
    while inference hands back decoded values, so re-rendering
    f'{col}={value}' can name a directory that does not exist. An
    escaped spelling resolves via percent-decoding; an unresolvable
    one (zero-padded int) fails loudly — erasure never silently skips
    a partition that holds forgotten rows."""
    from ai_ready_data_framework_spark.sources.maintenance import (
        forget_in_epoch_dir,
    )

    # ':' is Hive-escaped in directory names (%3A); the value reads
    # back decoded
    docs = spark.createDataFrame(
        [(1, "10:30"), (2, "11:00")], "doc_id long, slot string"
    )
    root = str(tmp_path / "byslot")
    docs.write.partitionBy("slot").parquet(root)
    assert any("%3A" in d for d in os.listdir(root)), os.listdir(root)
    rep = forget_in_epoch_dir(
        spark, root, _ids(spark, 1), partition_col="slot"
    )
    assert rep == {"partitions_rewritten": ["10:30"], "removed_rows": 1}
    assert spark.read.parquet(root).filter("doc_id = 1").count() == 0

    # zero-padded epoch dir: inferred int 5 has no dir spelling it
    root2 = str(tmp_path / "padded")
    spark.createDataFrame(
        [(3, "x")], "doc_id long, text string"
    ).write.parquet(f"{root2}/epoch=05")
    with pytest.raises(ValueError, match="spells it"):
        forget_in_epoch_dir(spark, root2, _ids(spark, 3))


def _band_index_with_run(spark, tmp_path, table):
    """A band index of docs 1-8 whose doc 500 sits in a run (one
    compaction of a one-doc delta): (index path, delta dir)."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    index_path = str(tmp_path / "bindex")
    delta_dir = str(tmp_path / "bdeltas")
    docs = spark.createDataFrame(
        [(d, _text(f"r{d}_", 12)) for d in range(1, 9)],
        "doc_id long, text string",
    )
    SD.write_band_index(SD.doc_bands(docs), table, index_path)
    late = spark.createDataFrame(
        [(500, _text("late_", 12))], "doc_id long, text string"
    )
    SD.probe_and_fold(spark, late, table, delta_dir, str(tmp_path / "p"), 0)
    SD.compact_band_index(spark, table, index_path, delta_dir)
    assert M.runs_of(spark, table) == [1]
    return index_path, delta_dir


def _drop_with_runs(spark, table):
    for t in (table, f"{table}__staging", f"{table}__run1"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_verify_forgotten_counts_postings_in_runs(spark, tmp_path):
    """A key that lives only in a run still survives: the audit reads
    base ∪ runs, so it cannot certify an erasure the base alone would
    pass."""
    from ai_ready_data_framework_spark.sources.maintenance import (
        verify_forgotten,
    )

    table = "band_verify_run"
    try:
        _band_index_with_run(spark, tmp_path, table)
        rep = verify_forgotten(spark, _ids(spark, 500), tables=(table,))
        assert rep["targets"][table] == 8  # one posting per band
        assert not rep["clean"]
    finally:
        _drop_with_runs(spark, table)


def test_forget_with_a_run_present_leaves_no_survivor_and_no_run(
    spark, tmp_path
):
    """Forget republishes base ∪ runs without the keys as one new base:
    the takedown rewrites one table, the key survives nowhere (also
    not in the run that held doc 500), and no run dir or run table is
    left."""
    import glob

    from ai_ready_data_framework_spark.sources import maintenance as M

    table = "band_forget_run"
    try:
        index_path, delta_dir = _band_index_with_run(spark, tmp_path, table)
        n_before = M.index_view(spark, table).count()
        rep = SD.forget_documents_band(
            spark, _ids(spark, 3, 500), table, index_path, delta_dir
        )
        assert rep == {"removed_rows": 16, "kept_rows": n_before - 16}
        audit = M.verify_forgotten(spark, _ids(spark, 3, 500), tables=(table,))
        assert audit["clean"] and audit["targets"][table] == 0
        assert M.runs_of(spark, table) == []
        assert not glob.glob(f"{index_path}_run*")
        assert not spark.catalog.tableExists(f"{table}__run1")
        assert M.index_view(spark, table).count() == n_before - 16
    finally:
        _drop_with_runs(spark, table)


def test_base_publish_absorbs_and_drops_the_runs(spark, tmp_path):
    """A new base generation holds the runs' rows, so it must not list
    them again (``idx.runs`` never carries over, unlike the other
    ``idx.*`` properties): the runs are dropped after the swap and each
    row serves once."""
    import glob

    from ai_ready_data_framework_spark.sources import maintenance as M

    table = "band_publish_runs"
    try:
        index_path, _ = _band_index_with_run(spark, tmp_path, table)
        spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES ('idx.note'='kept')"
        )
        n = M.index_view(spark, table).count()
        M.publish_bucketed_generation(
            spark,
            M.index_files(spark, table),
            table,
            index_path,
            M.BAND_INDEX.bucket_cols,
            M.BAND_INDEX.n_buckets,
        )
        props = M.table_properties(spark, table)
        assert "idx.runs" not in props
        assert props["idx.note"] == "kept"  # other idx.* still carry
        assert props["idx.folded_epochs"] == "[0]"
        assert M.index_view(spark, table).count() == n
        assert not glob.glob(f"{index_path}_run*")
        assert not spark.catalog.tableExists(f"{table}__run1")
    finally:
        _drop_with_runs(spark, table)
