"""Streaming incremental near-dedup (streaming/dedup.py): micro-batch
probe-and-fold over the persisted band index must equal the one-shot
batch probe, epoch replays must be no-ops in effect, and compaction
must fold the deltas into a bucketed run or, once the runs reach the
base's size, a new bucketed base."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.functions import text as T
from ai_ready_data_framework_spark.io import load_table
from ai_ready_data_framework_spark.operators.ai import (
    SHINGLE_K,
    incremental_band_probe,
)
from ai_ready_data_framework_spark.sources.maintenance import (
    _table_location,
    read_band_index,
    write_band_index,
)
from ai_ready_data_framework_spark.streaming import dedup as SD
from ai_ready_data_framework_spark.streaming import lifecycle as L

STREAM_MOD = 5  # doc_id % 5 == 0 arrives via the stream, in two drops


@pytest.fixture()
def split_corpus(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents")
    stream_docs = docs.filter(F.col("doc_id") % STREAM_MOD == 0)
    index_docs = docs.filter(F.col("doc_id") % STREAM_MOD != 0)
    index_bands = SD.doc_bands(index_docs)
    table = "band_index_stream_test"
    write_band_index(index_bands, table, str(tmp_path / "index"))
    yield docs, stream_docs, index_docs, index_bands, table
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def _pair_set(spark, pairs_out):
    return {
        (frozenset((r.new_doc, r.other_doc)), r.est_jaccard)
        for r in spark.read.parquet(pairs_out)
        .select("new_doc", "other_doc", "est_jaccard")
        .collect()
    }


def test_stream_probe_equals_one_shot_batch_probe(
    spark, split_corpus, tmp_path, monkeypatch
):
    docs, stream_docs, _, index_bands, table = split_corpus
    # two landing-zone drops -> two micro-batches
    drop_dir = tmp_path / "drops"
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    first = stream_docs.filter(F.col("doc_id") % (2 * STREAM_MOD) == 0)
    second = stream_docs.filter(F.col("doc_id") % (2 * STREAM_MOD) != 0)
    first.select(*cols).coalesce(1).write.parquet(str(drop_dir / "d1"))
    second.select(*cols).coalesce(1).write.parquet(str(drop_dir / "d2"))

    SD.run_incremental_dedup_stream(
        spark,
        str(drop_dir / "*"),
        table,
        str(tmp_path / "deltas"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
    )

    got = _pair_set(spark, str(tmp_path / "pairs"))
    one_shot = incremental_band_probe(
        SD.doc_bands(docs).withColumn(
            "__new", F.col("doc_id") % STREAM_MOD == 0
        ),
        is_new=F.col("__new"),
    ).collect()
    expected = {
        (frozenset((r.new_doc, r.other_doc)), r.est_jaccard)
        for r in one_shot
    }
    assert expected, "fixture must produce stream-touching dup pairs"
    assert got == expected
    # the fold half: deltas carry exactly the streamed bands
    n_delta = spark.read.parquet(str(tmp_path / "deltas")).count()
    assert n_delta == SD.doc_bands(stream_docs).count()

    # compaction folds base + deltas into one bucketed index — and
    # consolidates to ONE file per bucket (r9: write_band_index
    # repartitions onto the bucket columns, so compaction actually
    # compacts instead of leaving one file per task x bucket)
    import glob as _glob

    from ai_ready_data_framework_spark.sources.maintenance import (
        BAND_INDEX_BUCKETS,
    )

    n_base = read_band_index(spark, table).count()
    # the generation-dir assertions below are the merge tier's
    monkeypatch.setattr(L, "MERGE_RATIO", 0)
    SD.compact_band_index(
        spark, table, str(tmp_path / "index"), str(tmp_path / "deltas")
    )
    spark.catalog.refreshTable(table)
    assert read_band_index(spark, table).count() == n_base + n_delta
    # r10: compaction publishes a fresh generation directory and
    # deletes the old one (crash-safe staged publish) — count files at
    # the table's NEW location
    from ai_ready_data_framework_spark.sources.maintenance import (
        _table_location,
    )

    new_dir = _table_location(spark, table).removeprefix("file:")
    assert new_dir != str(tmp_path / "index")
    assert not _glob.glob(str(tmp_path / "index" / "*.parquet"))
    n_files = len(_glob.glob(f"{new_dir}/*.parquet"))
    assert 0 < n_files <= BAND_INDEX_BUCKETS, n_files
    # and the folded epochs are recorded + their partitions deleted
    from ai_ready_data_framework_spark.sources.maintenance import (
        folded_epochs_of,
    )

    assert folded_epochs_of(spark, table)
    assert not _glob.glob(str(tmp_path / "deltas" / "epoch=*"))


def test_epoch_replay_is_idempotent(spark, split_corpus, tmp_path):
    """Re-running an epoch (foreachBatch replay after a crash) must
    leave the pairs output and the delta log byte-identical in effect —
    no duplicate pairs, no doubled bucket counts."""
    _, stream_docs, _, _, table = split_corpus
    delta_dir = str(tmp_path / "deltas")
    pairs_out = str(tmp_path / "pairs")
    b1 = stream_docs.filter(F.col("doc_id") % (2 * STREAM_MOD) == 0)
    b2 = stream_docs.filter(F.col("doc_id") % (2 * STREAM_MOD) != 0)
    SD.probe_and_fold(spark, b1, table, delta_dir, pairs_out, 0)
    SD.probe_and_fold(spark, b2, table, delta_dir, pairs_out, 1)
    pairs_once = _pair_set(spark, pairs_out)
    n_delta_once = spark.read.parquet(delta_dir).count()
    # replay BOTH epochs (e.g. checkpoint loss / retry storm)
    SD.probe_and_fold(spark, b1, table, delta_dir, pairs_out, 0)
    SD.probe_and_fold(spark, b2, table, delta_dir, pairs_out, 1)
    assert _pair_set(spark, pairs_out) == pairs_once
    assert spark.read.parquet(delta_dir).count() == n_delta_once
    # pair-level: no frozenset pair appears twice across epochs
    raw = (
        spark.read.parquet(pairs_out)
        .select("new_doc", "other_doc")
        .collect()
    )
    assert len(raw) == len({frozenset((r.new_doc, r.other_doc)) for r in raw})


def test_band_compaction_is_crash_idempotent(
    spark, split_corpus, tmp_path, monkeypatch
):
    """The r10 contract shared with the IVF index
    (tests/test_ivf_refit.py::test_compaction_is_crash_idempotent):
    kill the process between the compaction publish and the delta-log
    delete — the folded epochs' files outlive the crash, but the
    manifest (swapped atomically with the folded base) makes every
    reader skip them: probe_and_fold sees no doubled corpus rows, and
    re-running compaction converges instead of re-folding."""
    import glob as _glob

    from ai_ready_data_framework_spark.sources import maintenance as M

    _, stream_docs, _, _, table = split_corpus
    delta_dir = str(tmp_path / "deltas")
    pairs_out = str(tmp_path / "pairs")
    SD.probe_and_fold(spark, stream_docs, table, delta_dir, pairs_out, 0)
    n_delta = spark.read.parquet(delta_dir).count()
    n_all = read_band_index(spark, table).count() + n_delta

    # simulated crash: the cleanup half never runs
    monkeypatch.setattr(L, "_fs_delete", lambda *_: None)
    SD.compact_band_index(spark, table, str(tmp_path / "index"), delta_dir)
    monkeypatch.undo()
    assert _glob.glob(f"{delta_dir}/epoch=*")  # leftovers ARE on disk
    assert M.folded_epochs_of(spark, table) == {0}
    spark.catalog.refreshTable(table)
    assert read_band_index(spark, table).count() == n_all
    # the next epoch's probe must see the corpus exactly once: the
    # folded epoch-0 delta is skipped even though its files exist
    earlier = M.read_epoch_deltas(
        spark, delta_dir, 1, exclude_epochs=M.folded_epochs_of(spark, table)
    )
    assert earlier is None or earlier.count() == 0

    # recovery run: deletes the leftovers without re-folding them
    SD.compact_band_index(spark, table, str(tmp_path / "index"), delta_dir)
    assert not _glob.glob(f"{delta_dir}/epoch=*")
    spark.catalog.refreshTable(table)
    assert read_band_index(spark, table).count() == n_all


def test_maintain_band_index_plans_compact_none(
    spark, split_corpus, tmp_path
):
    """The band twin of maintain_ivf_index (r10): pending deltas below
    the threshold do nothing; reaching it compacts; re-runs converge
    (folded epochs never re-trigger). No refit branch exists — banding
    has no fitted parameters to drift."""
    import glob as _glob

    _, stream_docs, _, _, table = split_corpus
    delta_dir = str(tmp_path / "deltas")
    pairs_out = str(tmp_path / "pairs")
    index_path = str(tmp_path / "index")

    b1 = stream_docs.filter(F.col("doc_id") % (2 * STREAM_MOD) == 0)
    b2 = stream_docs.filter(F.col("doc_id") % (2 * STREAM_MOD) != 0)
    SD.probe_and_fold(spark, b1, table, delta_dir, pairs_out, 0)
    rep = SD.maintain_band_index(
        spark, table, index_path, delta_dir, compact_after=2
    )
    assert rep == {"action": "none", "pending_epochs": [0]}

    SD.probe_and_fold(spark, b2, table, delta_dir, pairs_out, 1)
    n_all = (
        read_band_index(spark, table).count()
        + spark.read.parquet(delta_dir).count()
    )
    rep = SD.maintain_band_index(
        spark, table, index_path, delta_dir, compact_after=2
    )
    assert rep == {"action": "compact", "folded_epochs": [0, 1]}
    assert not _glob.glob(f"{delta_dir}/epoch=*")
    spark.catalog.refreshTable(table)
    assert read_band_index(spark, table).count() == n_all

    rep = SD.maintain_band_index(
        spark, table, index_path, delta_dir, compact_after=2
    )
    assert rep == {"action": "none", "pending_epochs": []}


def test_replay_after_premature_fold_keeps_pair_set(
    spark, split_corpus, tmp_path
):
    """ADVICE r10 (the replay/compaction race, band form): epoch 0's
    band delta lands, the stream checkpoint does NOT commit, and
    compaction folds it into the base before restart. On replay the
    base carries the batch's own bands — without the probe's
    self-provenance exclusion the batch's buckets double (distorting
    counts toward the hot cap) — the replayed pair set must be
    IDENTICAL to the original."""
    _, stream_docs, _, _, table = split_corpus
    delta_dir = str(tmp_path / "deltas")
    pairs_out = str(tmp_path / "pairs")
    index_path = str(tmp_path / "index")
    SD.probe_and_fold(spark, stream_docs, table, delta_dir, pairs_out, 0)
    original = _pair_set(spark, f"{pairs_out}/epoch=0")
    assert original  # the fixture corpus contains near-dups

    # maintenance folds the uncommitted epoch's delta (premature fold)
    SD.compact_band_index(spark, table, index_path, delta_dir)
    spark.catalog.refreshTable(table)

    # replay epoch 0 against the prematurely-folded base
    SD.probe_and_fold(spark, stream_docs, table, delta_dir, pairs_out, 0)
    assert _pair_set(spark, f"{pairs_out}/epoch=0") == original


def test_maintain_band_index_crash_mid_compact_converges(
    spark, split_corpus, tmp_path, monkeypatch
):
    """VERDICT r10 #7: the band planner carries the same crash contract
    as the IVF planner — crash between publish and delta cleanup, then
    a planner re-run converges to no-op (manifest-skipped leftovers,
    no re-fold, rows conserved) and the next compaction sweeps the
    leftover files."""
    import glob as _glob

    from ai_ready_data_framework_spark.sources import maintenance as M

    _, stream_docs, _, _, table = split_corpus
    delta_dir = str(tmp_path / "deltas")
    pairs_out = str(tmp_path / "pairs")
    index_path = str(tmp_path / "index")
    b1 = stream_docs.filter(F.col("doc_id") % (2 * STREAM_MOD) == 0)
    b2 = stream_docs.filter(F.col("doc_id") % (2 * STREAM_MOD) != 0)
    SD.probe_and_fold(spark, b1, table, delta_dir, pairs_out, 0)
    SD.probe_and_fold(spark, b2, table, delta_dir, pairs_out, 1)
    n_all = (
        read_band_index(spark, table).count()
        + spark.read.parquet(delta_dir).count()
    )

    # simulated crash: the cleanup half of the compact never runs
    monkeypatch.setattr(L, "_fs_delete", lambda *_: None)
    rep = SD.maintain_band_index(
        spark, table, index_path, delta_dir, compact_after=2
    )
    monkeypatch.undo()
    assert rep == {"action": "compact", "folded_epochs": [0, 1]}
    assert _glob.glob(f"{delta_dir}/epoch=*")  # leftovers ARE on disk
    assert M.folded_epochs_of(spark, table) == {0, 1}
    spark.catalog.refreshTable(table)
    assert read_band_index(spark, table).count() == n_all

    # planner re-run converges to no-op (no re-fold)
    rep = SD.maintain_band_index(
        spark, table, index_path, delta_dir, compact_after=2
    )
    assert rep == {"action": "none", "pending_epochs": []}
    spark.catalog.refreshTable(table)
    assert read_band_index(spark, table).count() == n_all

    # the next compaction pass sweeps leftovers without re-folding
    SD.compact_band_index(spark, table, index_path, delta_dir)
    assert not _glob.glob(f"{delta_dir}/epoch=*")
    spark.catalog.refreshTable(table)
    assert read_band_index(spark, table).count() == n_all


def _full_bands(docs):
    """The full-signature posting layout (functions/text.py::
    minhash_bands: __sig on all eight bands), as band indexes were
    written before doc_bands kept it on band 0 only."""
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(T.shingles(T.tokens("text"), SHINGLE_K))
        ).alias("s"),
    )
    return T.minhash_bands(T.minhash_signatures(sh, "doc_id", "s"), "doc_id")


def _assert_sig_on_band0_only(frame):
    """Exactly one non-NULL __sig per doc, on its band-0 posting."""
    per_doc = frame.groupBy("doc_id").agg(
        F.count("__sig").alias("n_sig"),
        F.min(F.when(F.col("__sig").isNotNull(), F.col("band"))).alias("band"),
    )
    rows = per_doc.collect()
    assert rows
    assert all(r.n_sig == 1 and r.band == 0 for r in rows), [
        r for r in rows if r.n_sig != 1 or r.band != 0
    ][:5]


def _parquet_bytes(path):
    import glob as _glob
    import os

    return sum(
        os.path.getsize(f)
        for f in _glob.glob(f"{path}/**/*.parquet", recursive=True)
    )


def test_postings_carry_sig_on_band0_only(spark, split_corpus, tmp_path):
    """The persisted layout of doc_bands holds in the base build, in
    every epoch delta and in a compacted generation."""
    _, stream_docs, _, _, table = split_corpus
    delta_dir = str(tmp_path / "deltas")
    pairs_out = str(tmp_path / "pairs")
    _assert_sig_on_band0_only(read_band_index(spark, table))
    b1 = stream_docs.filter(F.col("doc_id") % (2 * STREAM_MOD) == 0)
    b2 = stream_docs.filter(F.col("doc_id") % (2 * STREAM_MOD) != 0)
    SD.probe_and_fold(spark, b1, table, delta_dir, pairs_out, 0)
    SD.probe_and_fold(spark, b2, table, delta_dir, pairs_out, 1)
    for e in (0, 1):
        _assert_sig_on_band0_only(spark.read.parquet(f"{delta_dir}/epoch={e}"))
    assert SD.compact_band_index(
        spark, table, str(tmp_path / "index"), delta_dir
    ) == [0, 1]
    spark.catalog.refreshTable(table)
    _assert_sig_on_band0_only(
        spark.read.parquet(_table_location(spark, table))
    )


def test_sparse_index_is_at_most_40pct_of_full_layout(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents")
    written = {}
    try:
        for name, bands in (
            ("band_layout_sparse", SD.doc_bands(docs)),
            ("band_layout_full", _full_bands(docs)),
        ):
            write_band_index(bands, name, str(tmp_path / name))
            written[name] = _parquet_bytes(str(tmp_path / name))
        assert (
            read_band_index(spark, "band_layout_sparse").count()
            == read_band_index(spark, "band_layout_full").count()
        )
    finally:
        for name in ("band_layout_sparse", "band_layout_full"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
    assert written["band_layout_sparse"] <= 0.4 * written["band_layout_full"], (
        written
    )


def test_full_signature_base_with_sparse_deltas_probes_like_full_frame(
    spark, sf_smoke, tmp_path
):
    """An index written in the full-signature layout keeps serving:
    with sparse deltas folded in by two epochs, the stream's pairs
    equal the one-shot probe of an all-full frame."""
    docs = load_table(spark, sf_smoke, "documents")
    stream_docs = docs.filter(F.col("doc_id") % STREAM_MOD == 0)
    index_docs = docs.filter(F.col("doc_id") % STREAM_MOD != 0)
    table = "band_index_full_base"
    delta_dir = str(tmp_path / "deltas")
    pairs_out = str(tmp_path / "pairs")
    try:
        write_band_index(_full_bands(index_docs), table, str(tmp_path / "index"))
        b1 = stream_docs.filter(F.col("doc_id") % (2 * STREAM_MOD) == 0)
        b2 = stream_docs.filter(F.col("doc_id") % (2 * STREAM_MOD) != 0)
        SD.probe_and_fold(spark, b1, table, delta_dir, pairs_out, 0)
        SD.probe_and_fold(spark, b2, table, delta_dir, pairs_out, 1)
        got = _pair_set(spark, pairs_out)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    expected = {
        (frozenset((r.new_doc, r.other_doc)), r.est_jaccard)
        for r in incremental_band_probe(
            _full_bands(docs), is_new=F.col("doc_id") % STREAM_MOD == 0
        ).collect()
    }
    assert expected, "fixture must produce stream-touching dup pairs"
    assert got == expected


def test_doc_in_two_unfolded_deltas_pairs_once(spark, tmp_path):
    """Updated documents land in two unfolded delta epochs, so the
    probe frame holds two band-0 signatures for each doc_id. A later
    copy of text A must pair once with each, at the estimate of the
    version it shares a band with, on every run: doc 7 was A and is
    now unrelated text, doc 5 was a one-word edit of A and is now A."""
    text_a = _words("w", 20)
    edit_a = " ".join(text_a.split()[:-1] + ["changed"])

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    table = "band_index_updated_doc"
    delta_dir = str(tmp_path / "deltas")
    pairs_out = str(tmp_path / "pairs")
    runs = []
    try:
        write_band_index(
            SD.doc_bands(frame([(1, _words("base"))])),
            table,
            str(tmp_path / "index"),
        )
        for epoch, rows in enumerate(
            [[(7, text_a), (5, edit_a)], [(7, _words("x", 20)), (5, text_a)]]
        ):
            SD.probe_and_fold(spark, frame(rows), table, delta_dir, pairs_out, epoch)
        for _ in range(3):
            SD.probe_and_fold(
                spark, frame([(9, text_a)]), table, delta_dir, pairs_out, 2
            )
            runs.append(
                sorted(
                    tuple(r)
                    for r in spark.read.parquet(f"{pairs_out}/epoch=2")
                    .select("new_doc", "other_doc", "est_jaccard")
                    .collect()
                )
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    versions = spark.read.parquet(delta_dir).filter(
        F.col("doc_id").isin(5, 7) & (F.col("band") == 0)
    )
    assert versions.count() == 4
    assert runs == [[(9, 5, 1.0), (9, 7, 1.0)]] * 3


def _band_rows(spark, docs):
    return SD.doc_bands(spark.createDataFrame(docs, "doc_id long, text string"))


def _gram_rows(spark, docs):
    from ai_ready_data_framework_spark.operators.ai import gram_postings

    return gram_postings(
        spark.createDataFrame(docs, "doc_id long, text string"), min_run=4
    )


def _ivf_rows(spark, docs):
    return spark.createDataFrame(
        [(d, [float(d), 1.0], d % 3) for d, _ in docs],
        "vec_id long, embedding array<float>, cell int",
    )


def _lifecycle_index(index):
    """(spec, compactor, planner, rows) for one persisted index: the
    shared compactor/planner bindings each streaming module exports."""
    from ai_ready_data_framework_spark.sources import maintenance as M
    from ai_ready_data_framework_spark.streaming import ivf as SI
    from ai_ready_data_framework_spark.streaming import spans as SS

    return {
        "band": (
            M.BAND_INDEX, SD.compact_band_index, SD.maintain_band_index,
            _band_rows,
        ),
        "gram": (
            M.GRAM_INDEX, SS.compact_gram_index, SS.maintain_gram_index,
            _gram_rows,
        ),
        "ivf": (
            M.IVF_INDEX, SI.compact_ivf_index_deltas, SI.maintain_ivf_index,
            _ivf_rows,
        ),
    }[index]


def _words(prefix, n=12):
    return " ".join(f"{prefix}{i}" for i in range(n))


def _land_after_first_listing(monkeypatch, land):
    """Make ``land()`` run right after the lifecycle's FIRST delta-dir
    listing returns — an ingest epoch racing maintenance."""
    real = L._delta_epochs_present
    state = {"landed": False}

    def racy(spark_, d):
        out = real(spark_, d)
        if not state["landed"]:
            state["landed"] = True
            land()
        return out

    monkeypatch.setattr(L, "_delta_epochs_present", racy)


@pytest.mark.parametrize("index", ["band", "gram", "ivf"])
def test_compactor_does_not_fold_epochs_landed_mid_run(
    spark, tmp_path, monkeypatch, index
):
    """Code-review r13 (compactor twin of the refit TOCTOU): an epoch
    that lands between the compactor's listing and its delta read must
    be neither folded nor deleted — a root-dir read would fold it
    WITHOUT recording it in the manifest, so its rows would serve
    doubled and the next compaction would bake the duplication into
    the base forever. The pinned-path read folds exactly the listed
    set; the racer folds cleanly on the next pass. Run once per index:
    the three share one compactor."""
    import os

    from ai_ready_data_framework_spark.sources import maintenance as M

    spec, compactor, _, rows = _lifecycle_index(index)
    docs = [(d, _words(f"w{d}_")) for d in (1, 2)]
    late = [(9, _words("z"))]
    table = f"{index}_compact_race"
    path = str(tmp_path / "index")
    delta = str(tmp_path / "deltas")
    key = F.col(spec.key_col)
    try:
        M.write_bucketed(
            rows(spark, docs), table, spec.table_dir(path),
            spec.bucket_cols, spec.n_buckets,
        )
        L.write_epoch(rows(spark, [(5, _words("q"))]), delta, 0)
        _land_after_first_listing(
            monkeypatch,
            lambda: L.write_epoch(rows(spark, late), delta, 1),
        )
        compactor(spark, table, path, delta)
        spark.catalog.refreshTable(table)
        # the racer was NOT folded, NOT deleted, NOT in the base
        assert M.folded_epochs_of(spark, table) == {0}
        assert os.path.isdir(f"{delta}/epoch=1")
        base = M.index_files(spark, table)
        assert base.filter(key == 9).count() == 0
        assert base.filter(key == 5).count() > 0  # epoch 0 folded
        n_late_rows = rows(spark, late).count()

        # next maintenance pass folds the racer exactly once
        compactor(spark, table, path, delta)
        spark.catalog.refreshTable(table)
        assert M.folded_epochs_of(spark, table) == {1}
        base2 = M.index_files(spark, table)
        assert base2.filter(key == 9).count() == n_late_rows
    finally:
        _drop_run_tier(spark, table)


@pytest.mark.parametrize("index", ["band", "gram", "ivf"])
def test_planner_reports_epochs_the_compactor_folded(
    spark, tmp_path, monkeypatch, index
):
    """An epoch that lands between the planner's listing and the
    compactor's is folded by that compaction, so the planner's report
    must name it: ``folded_epochs`` is the compactor's own list, equal
    to the manifest the publish recorded — never the planner's
    earlier listing."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    spec, _, planner, rows = _lifecycle_index(index)
    table = f"{index}_planner_race"
    path = str(tmp_path / "index")
    delta = str(tmp_path / "deltas")
    try:
        M.write_bucketed(
            rows(spark, [(1, _words("w"))]), table, spec.table_dir(path),
            spec.bucket_cols, spec.n_buckets,
        )
        for e in (0, 1):
            L.write_epoch(rows(spark, [(10 + e, _words(f"e{e}_"))]), delta, e)
        _land_after_first_listing(
            monkeypatch,
            lambda: L.write_epoch(rows(spark, [(12, _words("r"))]), delta, 2),
        )
        rep = planner(spark, table, path, delta, compact_after=2)
        assert rep == {
            "action": "compact",
            "folded_epochs": sorted(M.folded_epochs_of(spark, table)),
        }
        assert rep["folded_epochs"] == [0, 1, 2]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__staging")


def _run_tier_index(spark, tmp_path, index, n_base=4):
    """A bucketed ``index`` of ``n_base`` documents with no delta yet:
    (spec, compactor, rows, table, path, delta, base rows)."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    spec, compactor, _, rows = _lifecycle_index(index)
    table = f"{index}_run_tier"
    path = str(tmp_path / "index")
    delta = str(tmp_path / "deltas")
    base = [(d, _words(f"w{d}_")) for d in range(1, n_base + 1)]
    M.write_bucketed(
        rows(spark, base), table, spec.table_dir(path),
        spec.bucket_cols, spec.n_buckets,
    )
    return spec, compactor, rows, table, path, delta, base


def _drop_run_tier(spark, table):
    for t in [table, f"{table}__staging"] + [
        f"{table}__run{r}" for r in range(1, 9)
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _multiset(df):
    return sorted(repr(r) for r in df.select(*sorted(df.columns)).collect())


def _run_dirs(spec, path):
    import glob as _glob

    return sorted(_glob.glob(f"{spec.table_dir(path)}_run*"))


@pytest.mark.parametrize("index", ["band", "gram", "ivf"])
def test_crash_before_run_publish_leaves_garbage_the_next_pass_drops(
    spark, tmp_path, monkeypatch, index
):
    """A pass that dies after staging its run but before the ALTER that
    lists it leaves a run table nobody reads: no reader doubles or
    loses a row (the delta still serves, unfolded), and the next pass
    drops the orphan and publishes the fold once."""
    import glob as _glob

    from ai_ready_data_framework_spark.sources import maintenance as M

    spec, compactor, rows, table, path, delta, base = _run_tier_index(
        spark, tmp_path, index
    )
    try:
        L.write_epoch(rows(spark, [(50, _words("e0_"))]), delta, 0)
        expected = _multiset(L.probe_view(spark, table, delta))

        def crash(*_a, **_k):
            raise RuntimeError("simulated crash before the run publish")

        monkeypatch.setattr(M, "_alter_index_props", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            compactor(spark, table, path, delta)
        monkeypatch.undo()
        [orphan] = _run_dirs(spec, path)
        orphan_files = set(_glob.glob(f"{orphan}/*.parquet"))
        assert orphan_files and spark.catalog.tableExists(f"{table}__run1")
        assert M.runs_of(spark, table) == []
        assert M.folded_epochs_of(spark, table) == set()
        assert _multiset(L.probe_view(spark, table, delta)) == expected
        assert _multiset(M.index_view(spark, table)) == _multiset(
            rows(spark, base)
        )

        assert compactor(spark, table, path, delta) == [0]
        assert M.runs_of(spark, table) == [1]
        assert M.folded_epochs_of(spark, table) == {0}
        assert not orphan_files & set(_glob.glob(f"{orphan}/*.parquet"))
        assert _run_dirs(spec, path) == [orphan]
        assert not _glob.glob(f"{delta}/epoch=*")
        assert _multiset(L.probe_view(spark, table, delta)) == expected
    finally:
        _drop_run_tier(spark, table)


@pytest.mark.parametrize("index", ["band", "gram", "ivf"])
def test_crash_after_run_publish_does_not_double_rows(
    spark, tmp_path, monkeypatch, index
):
    """A pass that dies after publishing its run but before deleting
    the folded delta leaves that delta on disk: the manifest lists its
    epoch, so readers skip it, and the next pass deletes it without
    re-folding."""
    import glob as _glob

    from ai_ready_data_framework_spark.sources import maintenance as M

    spec, compactor, rows, table, path, delta, _ = _run_tier_index(
        spark, tmp_path, index
    )
    try:
        L.write_epoch(rows(spark, [(50, _words("e0_"))]), delta, 0)
        expected = _multiset(L.probe_view(spark, table, delta))

        monkeypatch.setattr(L, "_fs_delete", lambda *_: None)
        assert compactor(spark, table, path, delta) == [0]
        monkeypatch.undo()
        assert M.runs_of(spark, table) == [1]
        assert _glob.glob(f"{delta}/epoch=*")  # leftovers ARE on disk
        assert M.folded_epochs_of(spark, table) == {0}
        assert _multiset(L.probe_view(spark, table, delta)) == expected

        assert compactor(spark, table, path, delta) == []
        assert not _glob.glob(f"{delta}/epoch=*")
        assert M.runs_of(spark, table) == [1]
        assert _multiset(L.probe_view(spark, table, delta)) == expected
    finally:
        _drop_run_tier(spark, table)


@pytest.mark.parametrize("index", ["band", "gram", "ivf"])
def test_runs_accumulate_then_merge_into_the_base(spark, tmp_path, index):
    """Pass by pass, each compaction writes a run while the runs plus
    its pending delta hold fewer bytes than the base, and merges
    everything into a new base once they reach it (the tiered policy).
    At every step the index serves exactly the rows landed so far, the
    manifest names exactly the epochs still on disk or just folded,
    and every run and every generation holds at most one file per
    bucket. The sequence must show at least two runs before a merge."""
    import glob as _glob

    from ai_ready_data_framework_spark.sources import maintenance as M

    spec, compactor, rows, table, path, delta, base = _run_tier_index(
        spark, tmp_path, index
    )

    def nbytes(d):
        return sum(
            os.path.getsize(f)
            for f in _glob.glob(f"{d.removeprefix('file:')}/*.parquet")
        )

    landed = list(base)
    tiers = []
    try:
        for e in range(8):
            batch = [(100 + e, _words(f"e{e}_"))]
            L.write_epoch(rows(spark, batch), delta, e)
            landed += batch
            runs_before = M.runs_of(spark, table)
            below = nbytes(f"{delta}/epoch={e}") + sum(
                nbytes(d) for d in _run_dirs(spec, path)
            ) < nbytes(M._table_location(spark, table))
            assert compactor(spark, table, path, delta) == [e]
            runs = M.runs_of(spark, table)
            tiers.append("run" if runs else "merge")
            assert tiers[-1] == ("run" if below else "merge")
            assert runs == (runs_before + [len(runs_before) + 1] if below else [])
            assert M.folded_epochs_of(spark, table) == {e}
            assert not _glob.glob(f"{delta}/epoch=*")
            assert _multiset(M.index_view(spark, table)) == _multiset(
                rows(spark, landed)
            )
            assert _multiset(M.index_files(spark, table)) == _multiset(
                rows(spark, landed)
            )
            for d in _run_dirs(spec, path) + [
                M._table_location(spark, table).removeprefix("file:")
            ]:
                assert 0 < len(_glob.glob(f"{d}/*.parquet")) <= spec.n_buckets
            assert len(_run_dirs(spec, path)) == len(runs)
            if tiers[-1] == "merge":
                break
        assert tiers[-1] == "merge" and tiers.count("run") >= 2, tiers
    finally:
        _drop_run_tier(spark, table)


def test_index_view_with_a_run_keeps_the_bucket_partitioning(
    spark, tmp_path
):
    """A run is bucketed like the base, so the catalog union base ∪
    run still reports HashPartitioning(band, bk): the probe's census
    aggregate over it plans no exchange at all."""
    from ai_ready_data_framework_spark.sources import maintenance as M

    spec, compactor, rows, table, path, delta, _ = _run_tier_index(
        spark, tmp_path, "band"
    )
    try:
        L.write_epoch(rows(spark, [(50, _words("e0_"))]), delta, 0)
        compactor(spark, table, path, delta)
        assert M.runs_of(spark, table) == [1]
        df = M.index_view(spark, table).groupBy("band", "bk").count()
        assert df.count() > 0
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        plan = plan.split("== Initial Plan ==")[0]
        assert plan.count("Bucketed: true") == 2, plan
        assert "Exchange" not in plan, plan
    finally:
        _drop_run_tier(spark, table)
