"""Seeded inputs: the same seed gives byte-identical files, and every
seed describes the same data, so one golden record serves them all."""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.workloads import jaccard


def _digests(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def _sorted_rows(path: str) -> list:
    rows = pq.read_table(path).to_pylist()
    return sorted(rows, key=lambda r: repr(sorted(r.items())))


def test_same_seed_gives_byte_identical_tables(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    rows, n_bytes = datagen.write_tables(str(a), 7)
    assert (rows, n_bytes) == datagen.write_tables(str(b), 7)
    assert rows["lineitem"] > rows["orders"]
    digests = _digests(str(a))
    assert set(digests) == {f"{n}.parquet" for n in datagen.TABLE_NAMES}
    assert digests == _digests(str(b))


def test_seeds_permute_rows_but_keep_content(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_tables(str(a), 1)
    datagen.write_tables(str(b), 2)
    for name in ("lineitem", "documents", "events"):
        pa_, pb_ = str(a / f"{name}.parquet"), str(b / f"{name}.parquet")
        assert pq.read_table(pa_).to_pylist() != pq.read_table(pb_).to_pylist()
        assert _sorted_rows(pa_) == _sorted_rows(pb_)


def test_table_row_counts_and_schema(tmp_path):
    datagen.write_tables(str(tmp_path), 0)
    for name, rows in datagen.TABLE_ROWS.items():
        assert pq.ParquetFile(str(tmp_path / f"{name}.parquet")).metadata.num_rows == rows
    docs = pq.read_table(str(tmp_path / "documents.parquet")).to_pylist()
    assert all(len(d["text"]) == d["n_chars"] for d in docs)
    emb = pq.read_table(str(tmp_path / "embeddings.parquet")).to_pylist()
    assert {len(e["embedding"]) for e in emb} == {64}


def _drops(path, seed):
    return datagen.write_drops(
        str(path), seed, base_docs=200, n_drops=3, drop_docs=50, copy_share=0.1
    )


def test_same_seed_gives_byte_identical_drops_and_copy_record(tmp_path):
    a = _drops(tmp_path / "a", 11)
    b = _drops(tmp_path / "b", 11)
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))
    assert [d.copies for d in a] == [d.copies for d in b]
    c = _drops(tmp_path / "c", 12)
    assert [d.copies for d in a] != [d.copies for d in c]


def test_drops_hold_fresh_docgen_rows_and_exact_copies(tmp_path):
    drops = _drops(tmp_path, 3)
    seen: set[int] = set()
    for d in drops:
        rows = {r["doc_id"]: r for r in pq.read_table(d.path).to_pylist()}
        assert len(rows) == 50 and not seen & rows.keys()
        seen |= rows.keys()
        assert len(d.copies) == 5
        for copy_id, src in d.copies:
            assert src < copy_id
            src_row = datagen.docgen_rows(3, src, src + 1)[0]
            assert rows[copy_id]["text"] == src_row[1]
        fresh = [i for i in rows if i not in {c for c, _ in d.copies}]
        want = datagen.docgen_rows(3, min(fresh), max(fresh) + 1)
        assert [rows[r[0]]["text"] for r in want] == [r[1] for r in want]


def test_jaccard_on_shingles():
    assert jaccard("a b c", "a b c") == 1.0
    assert jaccard("a b c", "x y z") == 0.0
    # shingles {a b, b c} vs {a b, b d}: one shared of three
    assert jaccard("a b c", "a b d") == 1 / 3
