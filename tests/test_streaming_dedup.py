"""Streaming incremental near-dedup (streaming/dedup.py): micro-batch
probe-and-fold over the persisted band index must equal the one-shot
batch probe, epoch replays must be no-ops in effect, and compaction
must fold the deltas back into the bucketed base."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_ready_data_framework_spark.io import load_table
from ai_ready_data_framework_spark.operators.ai import incremental_band_probe
from ai_ready_data_framework_spark.sources.maintenance import (
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
    spark, split_corpus, tmp_path
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
        base = spark.read.parquet(M._table_location(spark, table))
        assert base.filter(key == 9).count() == 0
        assert base.filter(key == 5).count() > 0  # epoch 0 folded
        n_late_rows = rows(spark, late).count()

        # next maintenance pass folds the racer exactly once
        compactor(spark, table, path, delta)
        spark.catalog.refreshTable(table)
        assert M.folded_epochs_of(spark, table) == {1}
        base2 = spark.read.parquet(M._table_location(spark, table))
        assert base2.filter(key == 9).count() == n_late_rows
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__staging")


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
