"""Seeded generator for the query-suite tables.

Writes the ten parquet tables the `SparkEntry.queries` read (the
TPC-H-like relations plus documents, embeddings and events) with the
column names, types and value domains of the project's reference
dataset at about 1/10 of its sf0.1 size: 60 000 lineitems, 15 000
orders, 500 documents, 500 embeddings and 10 000 events.  The same
seed gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUST, N_ORDERS, N_LINES, N_PART, N_SUPP = 1500, 15000, 60000, 2000, 100
N_DOCS, N_VECS, N_EVENTS, N_USERS = 500, 500, 10000, 150

VOCAB = np.array((
    "spark batch sort column line order part small fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data a join scale plan shuffle node the customer").split())
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
PART_WORDS = (["blue", "red", "green", "small", "large", "shiny", "matte",
               "steel"],
              ["anvil", "widget", "ring", "bolt", "gear", "spring", "valve",
               "clamp"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400 * 10**6
EPOCH_1995_US = int(np.datetime64("1995-01-01", "us").astype(np.int64))


def _write(out, name, cols, **kw):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"), **kw)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_us = pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(REGIONS, s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(N_CUST), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUST)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUST), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUST), s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPP), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPP)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPP), f64)})
    adj, noun = PART_WORDS
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(N_PART), i64),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, N_PART)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, N_PART), s),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 1), f64)})

    order_day = rng.integers(0, 2400, N_ORDERS)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORDERS), i64),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]),
                                             N_ORDERS), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS), f64),
        "o_orderdate": pa.array(EPOCH_1995_US + order_day * DAY_US, ts_us),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS), s)})

    okey = np.sort(rng.integers(0, N_ORDERS, N_LINES))
    linenumber = np.ones(N_LINES, dtype=np.int32)
    for i in range(1, N_LINES):  # 1-based position within the order
        if okey[i] == okey[i - 1]:
            linenumber[i] = min(linenumber[i - 1] + 1, 7)
    qty = rng.integers(1, 51, N_LINES).astype(np.float64)
    ship = order_day[okey] + rng.integers(1, 122, N_LINES)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINES), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINES), i64),
        "l_linenumber": pa.array(linenumber, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2100.0, N_LINES), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, N_LINES) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, N_LINES) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]),
                                            N_LINES), s),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), N_LINES), s),
        "l_shipdate": pa.array(EPOCH_1995_US + ship * DAY_US, ts_us)})

    # documents: short texts over a small vocabulary plus seeded exact
    # and near copies, so the dedup and near-dup families find pairs
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), n)])
             for n in rng.integers(10, 101, N_DOCS)]
    for _ in range(8):
        base = int(rng.integers(0, N_DOCS))
        texts[int(rng.integers(0, N_DOCS))] = texts[base]
        toks = texts[base].split(" ")
        for _ in range(int(rng.integers(1, 4))):
            toks[int(rng.integers(0, len(toks)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))]
        texts[int(rng.integers(0, N_DOCS))] = " ".join(toks)
    langs = rng.choice(np.array(["en", "zh", "es", "fr", "de"]), N_DOCS,
                       p=[0.41, 0.15, 0.15, 0.15, 0.14])
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(langs, s),
        "source": pa.array([f"src{i % 20}" for i in
                            rng.permutation(N_DOCS)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0, 1, (10, 64)).astype(np.float32)
    vecs = centers[labels] + rng.normal(0, 0.6, (N_VECS, 64)).astype(
        np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})

    base_us = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    ts = np.sort(base_us + rng.integers(0, 30 * DAY_US, N_EVENTS))
    _write(out, "events", {
        "event_id": pa.array(np.arange(N_EVENTS), i64),
        "ts": pa.array(ts, ts_us),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
        "event_type": pa.array(rng.choice(np.array(
            ["click", "view", "purchase", "signup", "error"]), N_EVENTS), s),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, N_EVENTS), 2),
                          f64),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, N_EVENTS)], s)})
