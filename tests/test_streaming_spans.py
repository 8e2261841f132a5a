"""Streaming exact-substring scrubbing (streaming/spans.py): each
micro-batch's spans must equal the batch operator run against the
corpus-so-far, epoch replays must be no-ops in effect, and compaction
must fold the gram deltas back into the bucketed base (planner
converges, rows conserved). Planted corpus: every overlap is by
construction, including one that is visible ONLY through the epoch-0
delta (text that exists in batch 1 but not in the base index)."""

from __future__ import annotations

import glob as _glob

import pytest
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.operators.ai import (
    cross_duplicated_spans,
    gram_postings,
)
from ai_ready_data_framework_spark.sources import maintenance as M
from ai_ready_data_framework_spark.streaming import lifecycle as L
from ai_ready_data_framework_spark.streaming import spans as SS

MIN_RUN = 4


def _text(prefix: str, n: int = 10) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


@pytest.fixture()
def span_env(spark, tmp_path):
    index_docs = spark.createDataFrame(
        [(d, _text(f"base{d}_")) for d in range(1, 21)],
        "doc_id long, text string",
    )
    # b1: one copy of base doc 1 (flags vs the base index), two texts
    # new to the corpus (U1, U2 — no flags in epoch 0)
    b1 = spark.createDataFrame(
        [
            (101, _text("base1_")),
            (102, _text("u1_")),
            (103, _text("u2_")),
        ],
        "doc_id long, text string",
    )
    # b2: a copy of U1 (visible ONLY through epoch 0's delta), a copy
    # of base doc 2 (visible through the base), and a fresh text
    b2 = spark.createDataFrame(
        [
            (201, _text("u1_")),
            (202, _text("base2_")),
            (203, _text("u3_")),
        ],
        "doc_id long, text string",
    )
    table = "gram_index_stream_test"
    SS.write_gram_index(
        gram_postings(index_docs, min_run=MIN_RUN),
        table,
        str(tmp_path / "index"),
    )
    yield index_docs, b1, b2, table
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def _span_set(spark, spans_out, epoch):
    return {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in spark.read.parquet(f"{spans_out}/epoch={epoch}").collect()
    }


def _batch_oracle(batch, corpus):
    return {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in cross_duplicated_spans(batch, corpus, min_run=MIN_RUN)
        .collect()
    }


def test_stream_spans_equal_batch_operator_per_epoch(
    spark, span_env, tmp_path
):
    index_docs, b1, b2, table = span_env
    delta_dir = str(tmp_path / "deltas")
    spans_out = str(tmp_path / "spans")
    SS.probe_and_fold_spans(
        spark, b1, table, delta_dir, spans_out, 0, min_run=MIN_RUN
    )
    SS.probe_and_fold_spans(
        spark, b2, table, delta_dir, spans_out, 1, min_run=MIN_RUN
    )
    got0 = _span_set(spark, spans_out, 0)
    got1 = _span_set(spark, spans_out, 1)
    # epoch 0: only the base-doc-1 copy flags, full-doc span
    assert got0 == {(101, 0, 9, 10)}
    assert got0 == _batch_oracle(b1, index_docs)
    # epoch 1: the U1 copy flags THROUGH THE DELTA (u1 text is not in
    # the base index), the base-doc-2 copy flags through the base
    assert got1 == {(201, 0, 9, 10), (202, 0, 9, 10)}
    assert got1 == _batch_oracle(b2, index_docs.union(b1))


def test_epoch_replay_is_idempotent(spark, span_env, tmp_path):
    _, b1, b2, table = span_env
    delta_dir = str(tmp_path / "deltas")
    spans_out = str(tmp_path / "spans")
    for epoch, b in ((0, b1), (1, b2)):
        SS.probe_and_fold_spans(
            spark, b, table, delta_dir, spans_out, epoch, min_run=MIN_RUN
        )
    once = (_span_set(spark, spans_out, 0), _span_set(spark, spans_out, 1))
    n_delta = spark.read.parquet(delta_dir).count()
    # replay BOTH epochs (checkpoint loss / retry storm)
    for epoch, b in ((0, b1), (1, b2)):
        SS.probe_and_fold_spans(
            spark, b, table, delta_dir, spans_out, epoch, min_run=MIN_RUN
        )
    assert (
        _span_set(spark, spans_out, 0),
        _span_set(spark, spans_out, 1),
    ) == once
    assert spark.read.parquet(delta_dir).count() == n_delta


def test_compaction_and_planner_converge(spark, span_env, tmp_path):
    index_docs, b1, b2, table = span_env
    delta_dir = str(tmp_path / "deltas")
    spans_out = str(tmp_path / "spans")
    index_path = str(tmp_path / "index")
    SS.probe_and_fold_spans(
        spark, b1, table, delta_dir, spans_out, 0, min_run=MIN_RUN
    )
    rep = SS.maintain_gram_index(
        spark, table, index_path, delta_dir, compact_after=2
    )
    assert rep == {"action": "none", "pending_epochs": [0]}

    SS.probe_and_fold_spans(
        spark, b2, table, delta_dir, spans_out, 1, min_run=MIN_RUN
    )
    n_all = (
        spark.table(table).count() + spark.read.parquet(delta_dir).count()
    )
    rep = SS.maintain_gram_index(
        spark, table, index_path, delta_dir, compact_after=2
    )
    assert rep == {"action": "compact", "folded_epochs": [0, 1]}
    assert not _glob.glob(f"{delta_dir}/epoch=*")
    spark.catalog.refreshTable(table)
    assert M.index_view(spark, table).count() == n_all
    rep = SS.maintain_gram_index(
        spark, table, index_path, delta_dir, compact_after=2
    )
    assert rep == {"action": "none", "pending_epochs": []}

    # post-compaction probe parity: a third batch copying a b2-only
    # text (u3) and a base text sees the same corpus through the
    # folded base as the batch oracle does through the raw frames
    b3 = spark.createDataFrame(
        [(301, _text("u3_")), (302, _text("base3_")), (303, _text("u9_"))],
        "doc_id long, text string",
    )
    SS.probe_and_fold_spans(
        spark, b3, table, delta_dir, spans_out, 2, min_run=MIN_RUN
    )
    got = _span_set(spark, spans_out, 2)
    assert got == {(301, 0, 9, 10), (302, 0, 9, 10)}
    assert got == _batch_oracle(b3, index_docs.union(b1).union(b2))


def test_probe_index_side_needs_no_exchange(spark, span_env, tmp_path):
    """The point of the hash-bucketed layout: the corpus-sized gram
    index claims HashPartitioning(h) from its buckets — the probe plan
    reshuffles only the rate-sized batch side (to h) and the hit set
    (to doc_id for the interval merge), NEVER the index."""
    index_docs, b1, _, table = span_env
    df = SS.probe_spans(
        gram_postings(b1, min_run=MIN_RUN),
        M.index_view(spark, table),
        min_run=MIN_RUN,
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    plan = plan.split("== Initial Plan ==")[0]
    assert "Bucketed: true" in plan, plan
    # batch->h + hits->doc_id are the only permissible hash exchanges
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_span_probe_reads_table_properties_once(
    spark, span_env, tmp_path, monkeypatch
):
    """The span probe takes its runs and its folded epochs from ONE
    snapshot of the table properties (lifecycle.probe_view): a run
    published between two reads would drop that run's epochs from both
    the run list and the delta read, and their spans would be missed."""
    _, b1, b2, table = span_env
    delta_dir = str(tmp_path / "deltas")
    spans_out = str(tmp_path / "spans")
    calls = []

    def counting(real):
        def table_properties(spark, name):
            calls.append(name)
            return real(spark, name)

        return table_properties

    SS.probe_and_fold_spans(
        spark, b1, table, delta_dir, spans_out, 0, min_run=MIN_RUN
    )
    monkeypatch.setattr(M, "table_properties", counting(M.table_properties))
    monkeypatch.setattr(L, "table_properties", counting(L.table_properties))
    SS.probe_and_fold_spans(
        spark, b2, table, delta_dir, spans_out, 1, min_run=MIN_RUN
    )
    assert calls == [table]
    assert _span_set(spark, spans_out, 1) == _batch_oracle(
        b2, span_env[0].union(b1)
    )


def test_gram_index_recovers_after_swap_crash(
    spark, span_env, tmp_path, monkeypatch
):
    """The generic generation-manifest recovery covers the third index
    too: a crash inside the compaction's DROP->CREATE swap window
    (table name undefined, generation files intact) is repaired by
    re-issuing the manifest's CREATE."""
    from ai_ready_data_framework_spark.sources.maintenance import (
        recover_index_table,
    )

    _, b1, b2, table = span_env
    delta_dir = str(tmp_path / "deltas")
    spans_out = str(tmp_path / "spans")
    index_path = str(tmp_path / "index")
    for epoch, b in ((0, b1), (1, b2)):
        SS.probe_and_fold_spans(
            spark, b, table, delta_dir, spans_out, epoch, min_run=MIN_RUN
        )
    # only the merge tier publishes through the DROP->CREATE swap
    monkeypatch.setattr(L, "MERGE_RATIO", 0)
    SS.compact_gram_index(spark, table, index_path, delta_dir)
    spark.catalog.refreshTable(table)
    n_all = spark.table(table).count()
    spark.sql(f"DROP TABLE {table}")  # the crash window
    recover_index_table(spark, index_path)
    assert spark.table(table).count() == n_all
    # the recovered table still probes (bucket spec restored by CREATE)
    got = {
        r.doc_id
        for r in SS.probe_spans(
            gram_postings(b1, min_run=MIN_RUN),
            M.index_view(spark, table),
            min_run=MIN_RUN,
        ).collect()
    }
    assert 101 in got  # the base-doc-1 copy still flags


def test_stream_driver_equals_manual_epochs(spark, span_env, tmp_path):
    """run_span_scrub_stream over two landing-zone drops must land
    exactly the spans the manual per-epoch calls produce (same probe,
    same fold, driven by availableNow foreachBatch)."""
    index_docs, b1, b2, table = span_env

    def full(df):
        return df.select(
            "doc_id",
            "text",
            F.lit("en").alias("lang"),
            F.lit("src0").alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )

    drops = tmp_path / "drops"
    full(b1).coalesce(1).write.parquet(str(drops / "d1"))
    full(b2).coalesce(1).write.parquet(str(drops / "d2"))
    SS.run_span_scrub_stream(
        spark,
        str(drops / "*"),
        table,
        str(tmp_path / "deltas"),
        str(tmp_path / "spans"),
        str(tmp_path / "ckpt"),
        min_run=MIN_RUN,
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in spark.read.parquet(str(tmp_path / "spans")).drop("epoch").collect()
    }
    # file order is lexicographic (d1 then d2) -> epoch 0 = b1, 1 = b2
    expected = _batch_oracle(b1, index_docs) | _batch_oracle(
        b2, index_docs.union(b1)
    )
    assert got == expected and got


def test_replay_after_premature_fold_is_self_match_free(
    spark, span_env, tmp_path
):
    """ADVICE r10 (the replay/compaction race): epoch 1's delta lands,
    the stream checkpoint does NOT commit, and maintenance folds that
    delta into the base before restart. On replay, the epoch filter
    removes the delta but the BASE now carries the batch's own grams —
    the probe's self-provenance exclusion (anti-join on the batch's
    doc_ids) must keep the replayed span set IDENTICAL to the original
    instead of overwriting it with full-doc self-matches."""
    index_docs, b1, b2, table = span_env
    delta_dir = str(tmp_path / "deltas")
    spans_out = str(tmp_path / "spans")
    index_path = str(tmp_path / "index")
    for epoch, b in ((0, b1), (1, b2)):
        SS.probe_and_fold_spans(
            spark, b, table, delta_dir, spans_out, epoch, min_run=MIN_RUN
        )
    original = _span_set(spark, spans_out, 1)
    assert original == {(201, 0, 9, 10), (202, 0, 9, 10)}

    # maintenance folds EVERY pending delta — including epoch 1, whose
    # checkpoint never committed (the premature fold)
    SS.compact_gram_index(spark, table, index_path, delta_dir)
    spark.catalog.refreshTable(table)

    # replay epoch 1: doc 203 (fresh text u3) must NOT flag against
    # its own folded grams; 201/202 still flag through the base
    SS.probe_and_fold_spans(
        spark, b2, table, delta_dir, spans_out, 1, min_run=MIN_RUN
    )
    assert _span_set(spark, spans_out, 1) == original

    # and the WRITE side inherits the protection: the replayed scrub
    # keeps 203 byte-identical instead of blanking it as a self-match
    scrubbed_out = str(tmp_path / "scrubbed")
    SS.probe_and_fold_spans(
        spark, b2, table, delta_dir, spans_out, 1,
        min_run=MIN_RUN, scrubbed_out=scrubbed_out,
    )
    got = {
        r.doc_id: r.text_clean
        for r in spark.read.parquet(f"{scrubbed_out}/epoch=1").collect()
    }
    assert got == {201: "", 202: "", 203: _text("u3_")}


def test_maintain_gram_index_crash_mid_compact_converges(
    spark, span_env, tmp_path, monkeypatch
):
    """VERDICT r10 #7: the gram planner carries the same crash contract
    as the IVF planner — a crash between the compaction publish and
    the delta cleanup leaves leftover epoch files, but the manifest
    makes every reader skip them; re-running the planner converges
    (deletes leftovers, never re-folds, row count conserved)."""
    import glob as _glob

    from ai_ready_data_framework_spark.sources import maintenance as M

    _, b1, b2, table = span_env
    delta_dir = str(tmp_path / "deltas")
    spans_out = str(tmp_path / "spans")
    index_path = str(tmp_path / "index")
    for epoch, b in ((0, b1), (1, b2)):
        SS.probe_and_fold_spans(
            spark, b, table, delta_dir, spans_out, epoch, min_run=MIN_RUN
        )
    n_all = (
        spark.table(table).count() + spark.read.parquet(delta_dir).count()
    )

    # simulated crash: the cleanup half of the compact never runs
    monkeypatch.setattr(L, "_fs_delete", lambda *_: None)
    rep = SS.maintain_gram_index(
        spark, table, index_path, delta_dir, compact_after=2
    )
    monkeypatch.undo()
    assert rep == {"action": "compact", "folded_epochs": [0, 1]}
    assert _glob.glob(f"{delta_dir}/epoch=*")  # leftovers ARE on disk
    assert M.folded_epochs_of(spark, table) == {0, 1}
    spark.catalog.refreshTable(table)
    assert M.index_view(spark, table).count() == n_all

    # planner re-run: the folded leftovers are inert (manifest-skipped,
    # zero pending) — the planner converges to no-op, never re-folds
    rep = SS.maintain_gram_index(
        spark, table, index_path, delta_dir, compact_after=2
    )
    assert rep == {"action": "none", "pending_epochs": []}
    spark.catalog.refreshTable(table)
    assert M.index_view(spark, table).count() == n_all

    # and the next compaction pass sweeps the leftovers without
    # re-folding them (to_fold is empty, delete-only)
    SS.compact_gram_index(spark, table, index_path, delta_dir)
    assert not _glob.glob(f"{delta_dir}/epoch=*")
    spark.catalog.refreshTable(table)
    assert M.index_view(spark, table).count() == n_all


def test_scrubbed_out_lands_stripped_docs_per_epoch(
    spark, span_env, tmp_path
):
    """r11 write side: with ``scrubbed_out`` set, each epoch also lands
    the batch rewritten by strip_duplicated_spans — already-in-corpus
    passages removed, untouched docs byte-identical, fully-duplicated
    docs surviving as empty strings — and replays overwrite to the
    same content."""
    from ai_ready_data_framework_spark.operators.ai import (
        strip_duplicated_spans,
    )

    index_docs, b1, b2, table = span_env
    delta_dir = str(tmp_path / "deltas")
    spans_out = str(tmp_path / "spans")
    scrubbed_out = str(tmp_path / "scrubbed")
    for epoch, b in ((0, b1), (1, b2)):
        SS.probe_and_fold_spans(
            spark,
            b,
            table,
            delta_dir,
            spans_out,
            epoch,
            min_run=MIN_RUN,
            scrubbed_out=scrubbed_out,
        )

    def scrubbed(epoch):
        return {
            r.doc_id: r.text_clean
            for r in spark.read.parquet(
                f"{scrubbed_out}/epoch={epoch}"
            ).collect()
        }

    got0, got1 = scrubbed(0), scrubbed(1)
    # epoch 0: the base-doc-1 copy is fully covered -> empty string;
    # the two texts new to the corpus pass through byte-identical
    assert got0[101] == ""
    assert got0[102] == _text("u1_") and got0[103] == _text("u2_")
    # epoch 1: u1 copy (via the epoch-0 delta) and base-doc-2 copy are
    # fully covered; the fresh text is untouched
    assert got1 == {201: "", 202: "", 203: _text("u3_")}
    # the epoch's scrub equals the batch operator against corpus-so-far
    spans1 = cross_duplicated_spans(
        b2, index_docs.union(b1), min_run=MIN_RUN
    )
    expected1 = {
        r.doc_id: r.text_clean
        for r in strip_duplicated_spans(b2, spans1).collect()
    }
    assert got1 == expected1
    # replay: the epoch-keyed overwrite converges to the same content
    SS.probe_and_fold_spans(
        spark, b2, table, delta_dir, spans_out, 1,
        min_run=MIN_RUN, scrubbed_out=scrubbed_out,
    )
    assert scrubbed(1) == got1


def test_decontam_stream_matches_batch_operator(spark, span_env, tmp_path):
    """run_decontam_stream (r11): per-epoch spans against the FIXED
    benchmark index equal cross_duplicated_spans(batch, benchmark) —
    training docs never fold in (two drops sharing text must not flag
    each other), and the scrubbed output equals the batch strip."""
    from ai_ready_data_framework_spark.operators.ai import (
        strip_duplicated_spans,
    )

    index_docs, b1, b2, table = span_env

    def full(df):
        return df.select(
            "doc_id",
            "text",
            F.lit("en").alias("lang"),
            F.lit("src0").alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )

    drops = tmp_path / "decontam_drops"
    full(b1).coalesce(1).write.parquet(str(drops / "d1"))
    full(b2).coalesce(1).write.parquet(str(drops / "d2"))
    spans_out = str(tmp_path / "decontam_spans")
    scrubbed_out = str(tmp_path / "decontam_scrubbed")
    SS.run_decontam_stream(
        spark,
        str(drops / "*"),
        table,
        spans_out,
        str(tmp_path / "decontam_ckpt"),
        min_run=MIN_RUN,
        scrubbed_out=scrubbed_out,
    )
    # epoch order follows drop mtimes; identify each epoch by content
    by_epoch = {
        e: _span_set(spark, spans_out, e) for e in (0, 1)
    }
    # b1: only the base-doc-1 copy overlaps the benchmark; b2: ONLY the
    # base-doc-2 copy — the u1 copy (201) shares text with b1's 102 but
    # the benchmark is static, so cross-batch training dup is NOT
    # flagged here (that is the scrub stream's job)
    assert by_epoch[0] == _batch_oracle(b1, index_docs)
    assert by_epoch[1] == _batch_oracle(b2, index_docs)
    assert by_epoch[0] == {(101, 0, 9, 10)}
    assert by_epoch[1] == {(202, 0, 9, 10)}
    # scrubbed parity: epoch 1's rewrite equals the batch strip
    got = {
        r.doc_id: r.text_clean
        for r in spark.read.parquet(f"{scrubbed_out}/epoch=1").collect()
    }
    spans = cross_duplicated_spans(full(b2), index_docs, min_run=MIN_RUN)
    expected = {
        r.doc_id: r.text_clean
        for r in strip_duplicated_spans(full(b2), spans).collect()
    }
    assert got == expected
    assert got[201] == _text("u1_") and got[202] == ""


def test_probe_exclusion_broadcasts_never_reshuffles_index(
    spark, span_env, tmp_path
):
    """The self-provenance exclusion's scale claim (probe_spans
    docstring): the anti-join on the batch's doc_ids must reach the
    plan as a BROADCAST join — the corpus-sized index side still
    claims its bucket partitioning and never gains a doc_id-keyed
    exchange."""
    index_docs, b1, _, table = span_env
    df = SS.probe_spans(
        gram_postings(b1, min_run=MIN_RUN),
        M.index_view(spark, table),
        min_run=MIN_RUN,
        exclude_ids=b1.select("doc_id").distinct(),
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    plan = plan.split("== Initial Plan ==")[0]
    assert "Bucketed: true" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # same exchange budget as the exclusion-free probe (batch->h plus
    # hits->doc_id for the interval merge): the broadcast anti-join
    # must not add a third keyed exchange — with the index side
    # bucketed, any doc_id exchange left is the rate-sized hit set
    assert plan.count("Exchange hashpartitioning") <= 2, plan
