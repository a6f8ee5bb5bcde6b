"""Seeded generator of the sf0.1-shaped batch tables the benchmark reads.

The tables have the schemas and value ranges of the engine's test corpus
(a TPC-H-like star schema plus `events`, `documents` and `embeddings`) at
scale factor 0.1, so the dashboard panels and the named batch queries run
on inputs of the size they are tuned for. The same seed always gives the
same bytes of table content.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["de", "en", "es", "fr", "zh"]


def _ts(base, offsets_us):
    """Microsecond timestamps from a naive UTC base plus integer offsets."""
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    return pa.array(epoch_us + offsets_us.astype(np.int64), pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, seed):
    """Write every table under `out` (one parquet file each)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    n_cust, n_supp, n_part, n_ord = 15000, 1000, 20000, 150000
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [segments[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    adjs = ["large", "hot", "small", "cold", "green", "red", "blue", "dark"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring"]
    types = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in zip(
            rng.integers(0, len(adjs), n_part), rng.integers(0, len(nouns), n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})

    days = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    odate = rng.integers(0, days + 1, n_ord) * 86400 * 10**6
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 450000, n_ord), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), odate),
        "o_orderpriority": [prios[i] for i in rng.integers(0, 5, n_ord)]})

    n_li = 600000
    lok = np.sort(rng.integers(0, n_ord, n_li))
    linenum = np.zeros(n_li, np.int32)
    starts = np.r_[0, np.flatnonzero(np.diff(lok)) + 1]
    run_id = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, n_li]))
    linenum[:] = np.arange(n_li) - starts[run_id] + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          rng.integers(0, days + 90, n_li) * 86400 * 10**6)})

    # events: one month of time-ordered activity from 1500 users
    n_ev = 100000
    month_us = 30 * 86400 * 10**6 - 10**6
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(rng.integers(0, month_us, n_ev))),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: short texts over a small vocabulary, a few of them exact
    # copies of an earlier one, as in the engine's test corpus
    n_doc = 5000
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: 64-d unit vectors around one centroid per label
    n_vec, dim = 2000, 64
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0, 1, (10, dim))
    vecs = centroids[labels] + rng.normal(0, 1.2, (n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
