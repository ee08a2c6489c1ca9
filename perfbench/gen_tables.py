"""Seeded tables for the queries workload.

The ten tables have the names, column types and value ranges of the
TESTDATA fixtures (a TPC-H-like star schema, an events stream, and a
documents/embeddings corpus), at the fixture's sf0.001 row counts for the
star schema and events and 500 documents and vectors. The same seed gives
byte-identical tables. Timestamps are written as naive microseconds, as in
the fixtures.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.001
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us") + (np.asarray(seconds) * 1e6).astype("timedelta64[us]")),
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * SF), max(10, int(10000 * SF)), int(200000 * SF)
    n_orders, n_events, n_docs = int(1500000 * SF), int(1000000 * SF), 500
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    order_days = rng.integers(0, 2404, n_orders)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts("1995-01-01", order_days * 86400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]})
    lines_per = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines_per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(1.0, 2.1, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01", (order_days[okey] + rng.integers(1, 122, n_li)) * 86400)})
    users = max(15, int(150000 * SF))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n_events))),
        "user_id": pa.array(rng.integers(0, users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)]})
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
             for _ in range(n_docs)]
    # near-duplicates: 25 docs of the second half each repeat a different
    # doc of the first half with one word changed
    originals = rng.choice(np.arange(n_docs // 2), 25, replace=False)
    for i, j in zip(originals, rng.choice(np.arange(n_docs // 2, n_docs), 25, replace=False)):
        w = texts[int(i)].split(" ")
        w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[j] = " ".join(w)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_docs)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_all(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
