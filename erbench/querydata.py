"""Seeded generator of the tables the engine's query battery reads: a
TPC-H-like star schema (region, nation, customer, supplier, part, orders,
lineitem), an `events` stream, a `documents` corpus (150 docs) with
planted near-duplicates and an `embeddings` table of clustered unit vectors. Same
seed gives byte-identical parquet files."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new", "green"]
PART_NOUN = ["widget", "bolt", "gear", "gizmo", "plate", "anvil", "ring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ("a the join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window spark part "
         "group big sort query fast").split()
DIM = 64
LABELS = 10
# TPC-H scale factor of the star schema and the events table
SF = 0.01


def _ts(days, start):
    base = np.datetime64(start, "us")
    return pa.array(base + (days * 86400e6).astype("timedelta64[us]"), pa.timestamp("us"))


def tables(seed):
    r = np.random.default_rng(seed)
    n_cust = int(150000 * SF)
    n_supp = int(10000 * SF)
    n_part = int(200000 * SF)
    n_ord = int(1500000 * SF)
    n_line = 4 * n_ord
    n_evt = int(1000000 * SF)
    n_users = n_cust // 10
    # the corpus queries' oracles are quadratic in the document count, so
    # the corpus stays small; embeddings keep the testdata's 500 vectors
    n_docs = 150
    n_vecs = 500
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(PART_ADJ, n_part),
                                              r.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + r.integers(0, 1000, n_part) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(r.integers(0, 2403, n_ord).astype(float), "1995-01-01"),
        "o_orderpriority": r.choice(PRIORITIES, n_ord)})
    qty = r.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _ts(r.integers(1, 2499, n_line).astype(float), "1995-01-01")})
    gaps = r.exponential(1.0, n_evt)
    days = np.cumsum(gaps) / gaps.sum() * 30.0 * (1 - 1e-6)
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(np.round(days * 86400e6) / 86400e6, "2024-01-01"),
        "user_id": r.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": r.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(np.round(r.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": r.choice(LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centers = r.normal(0, 1, (LABELS, DIM))
    labels = r.integers(0, LABELS, n_vecs)
    vecs = centers[labels] + r.normal(0, 0.8, (n_vecs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

