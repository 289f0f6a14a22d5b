"""Seeded generator of the gate_suite input tables.

Writes one parquet file per table with the schemas the gates read
(FIXTURES.md section C): a TPC-H-like star schema plus the `events`,
`documents` and `embeddings` tables. The same seed gives byte-identical
values. Sizes are about 2% of the sf0.1 bench data.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]

N_ORDERS = 3000
N_CUSTOMERS = 300
N_PARTS = 400
N_SUPPLIERS = 100
N_EVENTS = 2000
N_USERS = 40
N_DOCS = 150
N_VECS = 150
DIM = 64


def _ts(values_us):
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _day_us(day_offsets, start="1995-01-01"):
    base = np.datetime64(start, "us").astype("int64")
    return base + day_offsets.astype("int64") * 86_400_000_000


def _money(x):
    return np.round(x, 2)


def generate(out_dir, seed):
    """Write every table under `out_dir`; returns the table names."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, N_CUSTOMERS)),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, N_SUPPLIERS))})
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PARTS), pa.int64()),
        "p_name": [f"{a} {n}" for a, n in zip(rng.choice(PART_ADJ, N_PARTS),
                                               rng.choice(PART_NOUN, N_PARTS))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)],
        "p_type": rng.choice(PART_TYPES, N_PARTS),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": _money(900 + np.arange(N_PARTS) * 0.1)})

    order_days = rng.integers(0, 2404, N_ORDERS)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng.uniform(1000, 500000, N_ORDERS)),
        "o_orderdate": _ts(_day_us(order_days)),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS)})

    lines = rng.integers(1, 8, N_ORDERS)
    okeys = np.repeat(np.arange(N_ORDERS), lines)
    linenos = np.concatenate([np.arange(1, n + 1) for n in lines])
    n_li = len(okeys)
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n_li), pa.int64()),
        "l_linenumber": pa.array(linenos, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rng.uniform(900, 2100, n_li)),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(_day_us(order_days[okeys] + rng.integers(1, 122, n_li)))})

    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _ts(np.datetime64("2024-01-01", "us").astype("int64") + ev_ts),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": _money(rng.exponential(50, N_EVENTS) + 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})

    texts = []
    for _ in range(N_DOCS):
        n_words = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(WORDS, n_words)))
    # plant near-duplicates: a few documents repeat an earlier one with one
    # word changed, so the dedup gates have something to find
    for i in range(N_DOCS // 10, N_DOCS, 10):
        src = texts[int(rng.integers(0, i))].split(" ")
        src[int(rng.integers(0, len(src)))] = "dup"
        texts[i] = " ".join(src)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, N_VECS)
    centroids = rng.normal(0, 1, (10, DIM))
    vecs = centroids[labels] + rng.normal(0, 0.6, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(tables)
