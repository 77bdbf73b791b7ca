"""Synthetic analytic corpus for the registry slice.

Writes the ten tables the registered queries read (TPC-H-like star schema,
an `events` stream, `documents` and `embeddings`), one parquet file each,
with the shapes and value ranges of the repository's test corpus at scale
0.01. The corpus depends only on `seed`, so recorded results stay valid.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window order data column join small customer query group filter "
         "stream big vector").split()
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(days_from, start):
    base = np.datetime64(start, "D")
    return (base + days_from.astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, seed=42, n_orders=15000):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n_cust, n_supp, n_part = n_orders // 10, 100, 2000
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                   for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})

    odate = _ts(rng.integers(0, 2404, n_orders), "1995-01-01")
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_orders)],
        "o_totalprice": money(1000, 500000, n_orders),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_orders)]})

    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})

    n_ev = n_orders * 2 // 3
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(out, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.02, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_doc = n_orders // 30
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(8, 90)))
             for _ in range(n_doc)]
    # a tenth of the documents are near-duplicates of earlier ones, so the
    # dedup and bitext queries have pairs to find
    for i in range(n_doc // 10):
        src, dst = rng.integers(0, n_doc // 2), rng.integers(n_doc // 2, n_doc)
        words = texts[src].split()
        words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
        texts[dst] = " ".join(words)
    _write(out, "documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[l] for l in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n_vec, dim = n_doc, 64
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
