"""Seeded generator of the small TPC-H-shaped dataset the short_queries
workload runs on: the ten tables `graft.SparkEntry` registers, with the
column names and types its queries and DuckDB oracles expect, at roughly
0.001 scale. The same seed writes byte-identical values.

Usage: python3 graftbench/tpch_gen.py <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 150, 10, 200, 1500
N_EVENTS, N_DOCS, N_VECS, DIM = 1000, 100, 100, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["cold", "small", "big", "fast", "slow", "red", "blue"]
NOUN = ["widget", "gadget", "bolt", "gear", "panel"]
TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr"]
VOCAB = ("the a key order sort table scan merge part window small hash join batch "
         "stream spark group query row data slow filter customer line value agg "
         "column big fast vector dup").split()

US_PER_DAY = 86_400_000_000
EPOCH_1992 = 8035 * US_PER_DAY      # 1992-01-01 in µs since the epoch
EPOCH_2024 = 19723 * US_PER_DAY     # 2024-01-01


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts(values):
    return pa.array(values.astype("int64"), type=pa.timestamp("us"))


def tables(seed):
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": money(rng, -999.99, 9999.99, N_SUPPLIER)})
    price = np.round(900 + rng.integers(0, 1100, N_PART) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, N_PART), rng.choice(NOUN, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(TYPES, N_PART).tolist(),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": price})
    odate = EPOCH_1992 + rng.integers(0, 2400, N_ORDERS) * US_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
        "o_totalprice": money(rng, 1000, 400000, N_ORDERS),
        "o_orderdate": ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS).tolist()})
    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n = len(okey)
    pkey = rng.integers(0, N_PART, n)
    qty = rng.integers(1, 51, n).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(pkey, i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": ts(odate[okey] + rng.integers(1, 120, n) * US_PER_DAY)})
    t["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), i64),
        "ts": ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, N_EVENTS))),
        "user_id": pa.array(rng.integers(0, 50, N_EVENTS), i64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS).tolist(),
        "value": money(rng, 0, 500, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = [" ".join(rng.choice(VOCAB, k)) for k in rng.integers(5, 120, N_DOCS)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), i64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 5, N_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    emb = rng.normal(0, 0.1, (N_VECS, DIM)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_VECS), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 2, N_VECS), i32)})
    return t


def generate(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
