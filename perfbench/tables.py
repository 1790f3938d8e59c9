"""Seeded generator for the relational tables the query workload reads.

Schemas and value domains follow the star-schema tables the engine's
queries are written against (TESTDATA.md / FIXTURES.md §2, §5): TPC-H
style ``region nation customer orders lineitem`` plus ``events``,
``documents`` and ``embeddings``. Each table is one parquet file with a
single row group, the layout ``sources.tables.load_table`` is tuned
for. The same seed writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a the data table row column key value join scan sort merge hash agg "
    "group filter window stream batch spark query order line part customer "
    "fast slow big small vector"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10
DAY_US = 86_400 * 1_000_000


def _ts(days: np.ndarray, base: str) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def make_tables(seed: int, orders: int = 1500) -> dict[str, pa.Table]:
    """Tables sized like the engine's smallest test scale: ``orders``
    orders, four line items per order on average."""
    rng = np.random.default_rng(seed)
    customers = max(orders // 10, 25)
    users = max(orders // 100, 10)
    n_events = max(orders * 2 // 3, 100)
    n_docs = n_vecs = max(orders // 3, 100)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(customers), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, customers), 2),
            "c_mktsegment": rng.choice(SEGMENTS, customers).tolist(),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, customers, orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], orders).tolist(),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, orders), 2),
            "o_orderdate": _ts(rng.integers(0, 2400, orders), "1995-01-01"),
            "o_orderpriority": rng.choice(PRIORITIES, orders).tolist(),
        }
    )
    lines = orders * 4
    line_orders = np.sort(rng.integers(0, orders, lines))
    linenumber = np.ones(lines, np.int32)
    for i in range(1, lines):
        if line_orders[i] == line_orders[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    quantity = rng.integers(1, 51, lines).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(line_orders, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, orders // 7 + 1, lines), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, lines), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, lines), 2),
            "l_discount": rng.integers(0, 11, lines) / 100.0,
            "l_tax": rng.integers(0, 9, lines) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], lines).tolist(),
            "l_linestatus": rng.choice(["F", "O"], lines).tolist(),
            "l_shipdate": _ts(rng.integers(1, 2500, lines), "1995-01-01"),
        }
    )
    gaps = rng.integers(1_000_000, 2 * 30 * DAY_US // n_events, n_events)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n_events), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
            "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.2:
            # near-duplicate of an earlier document, one word changed:
            # gives the similarity and label-propagation queries real pairs
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 100))).tolist()
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs).tolist(),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, EMBED_LABELS, n_vecs)
    centers = rng.standard_normal((EMBED_LABELS, EMBED_DIM))
    vecs = centers[labels] + 0.5 * rng.standard_normal((n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], directory: str) -> int:
    """One single-row-group parquet file per table; returns bytes written."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(directory, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
        total += os.path.getsize(path)
    return total
