"""Seeded inputs for the benchmark workloads.

Two kinds of input, both pure functions of their seed:

* ``write_tables`` — the ten canonical tables (star schema, ``events``,
  ``documents``, ``embeddings``) at the row counts in ``TABLE_ROWS``.
  Table *content* is fixed by ``BASE_SEED`` so one golden record serves
  every run; the run seed only permutes each table's row order. Each
  table is written as one Parquet file, the layout ``io.load_tables``
  reads.
* ``write_drops`` — landing-zone drops for the streaming-ingest workload:
  fresh ``docgen`` rows plus exact copies, under new doc_ids, of randomly
  chosen earlier docs. The rows come from the engine's ``docgen``
  reader, so the base index built through Spark and the drops written
  here describe one corpus.

Only NumPy and PyArrow are used, so the same seed gives byte-identical
files on every run.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# About the sf0.01 test fixture's row counts: the assessment is bound by
# per-job overhead, not volume, so larger tables add generation time
# without changing what the workload stresses.
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
_NEAR_DUP_SHARE = 0.05
_EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def base_tables() -> dict[str, pa.Table]:
    """The canonical tables, content fixed by ``BASE_SEED``."""
    rng = np.random.default_rng(BASE_SEED)
    n = TABLE_ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        }
    )
    parts = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": parts,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (parts % 1000) / 10.0, 2),
        }
    )
    n_orders = n["orders"]
    order_day = rng.integers(0, 2_404, n_orders)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n_orders).astype(np.int64),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n_orders), 2),
            "o_orderdate": _ts(_EPOCH_1995 + order_day * _US_PER_DAY),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
        }
    )
    lines_per_order = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    n_lines = len(l_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_number = np.arange(n_lines) - np.repeat(starts, lines_per_order) + 1
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    l_part = rng.integers(0, n["part"], n_lines).astype(np.int64)
    ship_day = order_day[l_order] + rng.integers(1, 122, n_lines)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, n["supplier"], n_lines).astype(np.int64),
            "l_linenumber": pa.array(l_number, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900.0 + (l_part % 1000) / 10.0), 2),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_lines)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_lines)],
            "l_shipdate": _ts(_EPOCH_1995 + ship_day * _US_PER_DAY),
        }
    )
    n_ev = n["events"]
    gaps = np.maximum(1, rng.exponential(259e6, n_ev)).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
            "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n["documents"]):
        if i > 10 and rng.random() < _NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))
            texts.append(" ".join(_WORDS[w] for w in words))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n["documents"], dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, 5, n["documents"])],
            "source": [f"src{i}" for i in rng.integers(0, 20, n["documents"])],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n["embeddings"], _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n["embeddings"], dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
        }
    )
    return out


def write_tables(out_dir: str, seed: int) -> tuple[dict[str, int], int]:
    """Write every table, row order permuted by ``seed``, as
    ``<out_dir>/<name>.parquet``; returns the row counts and the bytes
    written."""
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}
    total = 0
    for i, (name, table) in enumerate(sorted(base_tables().items())):
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table.take(perm), path)
        rows[name] = table.num_rows
        total += os.path.getsize(path)
    return rows, total


# --- streaming-ingest drops -------------------------------------------------

DOCS_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")
DOCS_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


@dataclass(frozen=True)
class Drop:
    epoch: int
    path: str
    n_bytes: int
    copies: tuple[tuple[int, int], ...]  # (copy doc_id, source doc_id)


def docgen_rows(seed: int, lo: int, hi: int) -> list[tuple]:
    """Rows ``lo <= doc_id < hi`` of the ``docgen`` corpus for ``seed``,
    read through the source's own reader (filter pushdown narrows it)."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from ai_ready_data_framework_spark.sources.docgen import DocGenReader

    reader = DocGenReader({"n_docs": str(hi), "seed": str(seed)})
    list(reader.pushFilters([GreaterThanOrEqual(("doc_id",), lo)]))
    rows: list[tuple] = []
    for part in reader.partitions():
        rows.extend(reader.read(part))
    return rows


def write_docs(path: str, rows: list[tuple]) -> None:
    """``docgen`` rows as one Parquet file."""
    table = pa.Table.from_pylist(
        [dict(zip(DOCS_COLUMNS, r)) for r in rows], schema=DOCS_ARROW_SCHEMA
    )
    pq.write_table(table, path)


def write_drops(
    out_dir: str,
    seed: int,
    base_docs: int,
    n_drops: int,
    drop_docs: int,
    copy_share: float,
) -> list[Drop]:
    """``n_drops`` Parquet drops of ``drop_docs`` rows each. Drop ``e``
    holds fresh docgen rows for the next id range, then
    ``copy_share * drop_docs`` exact copies of docgen docs from earlier
    ids (base corpus or earlier drops), under new ids."""
    os.makedirs(out_dir, exist_ok=True)
    n_copies = int(round(drop_docs * copy_share))
    n_fresh = drop_docs - n_copies
    fresh_ids: list[tuple[int, int]] = [(0, base_docs)]
    next_id = base_docs
    drops: list[Drop] = []
    for epoch in range(n_drops):
        rng = np.random.default_rng([seed, epoch])
        rows = docgen_rows(seed, next_id, next_id + n_fresh)
        copy_id = next_id + n_fresh
        pool = sum(hi - lo for lo, hi in fresh_ids)
        copies = []
        for k, pick in enumerate(rng.choice(pool, n_copies, replace=False)):
            src = _nth_id(fresh_ids, int(pick))
            src_row = docgen_rows(seed, src, src + 1)[0]
            rows.append((copy_id + k, *src_row[1:]))
            copies.append((copy_id + k, src))
        fresh_ids.append((next_id, next_id + n_fresh))
        next_id += drop_docs
        path = os.path.join(out_dir, f"drop_{epoch:04d}.parquet")
        write_docs(path, rows)
        drops.append(Drop(epoch, path, os.path.getsize(path), tuple(copies)))
    return drops


def _nth_id(ranges: list[tuple[int, int]], n: int) -> int:
    for lo, hi in ranges:
        if n < hi - lo:
            return lo + n
        n -= hi - lo
    raise IndexError(n)
