"""Seeded generator of the query suite's input tables.

Writes the ten parquet tables `graft.SparkEntry.queries` read (a TPC-H-like
star schema, an `events` stream, `documents` and `embeddings`) with the
column names, arrow types and value domains of the test tables described
in TESTDATA.md. Row counts follow the scale factor `sf` as those tables'
do; `documents` and `embeddings` have 500 rows at every scale.
"""
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
ADJECTIVES = ["small", "blue", "cold", "old", "new", "hot", "red", "large"]
NOUNS = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_orders = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_events = max(1, int(1_000_000 * sf))
    n_users = max(1, n_cust // 10)
    n_docs = 500

    def keys(n):
        return pa.array(np.arange(n, dtype=np.int64))

    def pick(values, n, p=None):
        return pa.array(np.array(values)[rng.choice(len(values), n, p=p)])

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": keys(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": keys(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    t["part"] = pa.table({
        "p_partkey": keys(n_part),
        "p_name": pick(names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": keys(n_orders),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": pick(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, n_orders, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pick(PRIORITIES, n_orders)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04"))})
    month_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, month_us, n_events))
    t["events"] = pa.table({
        "event_id": keys(n_events),
        "ts": pa.array(np.datetime64(datetime(2024, 1, 1), "us") + offsets),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": pick(EVENT_TYPES, n_events),
        "value": _money(rng, n_events, 0.01, 330.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 100, n_docs)]
    t["documents"] = pa.table({
        "doc_id": keys(n_docs),
        "text": texts,
        "lang": pick(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})
    vecs = rng.standard_normal((n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": keys(n_docs),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs).astype(np.int32))})

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        pq.write_table(t[name], os.path.join(out, f"{name}.parquet"),
                       compression="snappy")
    return out
