#!/usr/bin/env python3
"""Seeded generator for the catalog's input tables.

Writes one parquet file per table (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) with the schemas,
row counts and value domains of the repository's sf0.01 fixture files
(60,000 lineitem rows). perfbench/NOTES.md lists the domains, measured
from those files, that this generator reproduces. The same seed gives
byte-identical values.

    python3 perfbench/tables.py <out_dir> <seed>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget",
             "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
WORDS = ["a", "the", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "value", "vector", "window"]

# row counts of the sf0.01 fixtures
N_CUST, N_SUPP, N_PART = 1500, 100, 2000
N_ORD, N_LINE = 15000, 60000
N_EV, N_USERS = 10000, 150
N_DOC, N_EMB, EMB_DIM = 500, 500, 64

DAY_US = 86400 * 1000000
EPOCH_1995_US = 788918400 * 1000000       # 1995-01-01
EPOCH_2024_US = 1704067200 * 1000000      # 2024-01-01


def _write(out, name, cols):
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def generate(out, seed):
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, N_CUST),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUST).tolist()})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, N_SUPP)})
    retail = np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART).tolist(),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": retail})

    # order dates: whole days 1995-01-01 .. 2001-08-01
    odate = EPOCH_1995_US + rng.integers(0, 2405, N_ORD) * DAY_US
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORD), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORD).tolist(),
        "o_totalprice": money(1000.0, 500000.0, N_ORD),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORD).tolist()})

    # extended price is uniform and independent of the quantity; ship
    # dates are whole days 1995-01-02 .. 2001-11-04
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LINE), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINE), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINE), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINE), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINE).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, N_LINE),
        "l_discount": np.round(rng.integers(0, 11, N_LINE) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINE) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINE).tolist(),
        "l_linestatus": rng.choice(["F", "O"], N_LINE).tolist(),
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2500, N_LINE)
                          * DAY_US)})

    # events: distinct µs timestamps drawn uniformly over 30 days, in
    # event_id order
    ts = np.sort(rng.choice(30 * DAY_US, N_EV, replace=False))
    _write(out, "events", {
        "event_id": pa.array(np.arange(N_EV), pa.int64()),
        "ts": _ts(EPOCH_2024_US + ts),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EV), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, N_EV).tolist(),
        "value": np.round(rng.exponential(50.0, N_EV) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EV)]})

    # documents: 10-99 random words; one in twenty repeats an earlier
    # document with " dup" appended, so dedup has near-duplicates to find
    texts = []
    for i in range(N_DOC):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, n)))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(N_DOC), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOC).tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOC)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit-norm float32 vectors
    emb = rng.normal(0.0, 1.0, (N_EMB, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
