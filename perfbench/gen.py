#!/usr/bin/env python3
"""Deterministic fixture generator for the benchmark.

Writes the ten graft tables (FIXTURES.md schemas) as one parquet file
each under OUT_DIR. The value distributions follow the seed-42 testdata
the query catalog was written against: a TPC-H-ish star schema, an
`events` stream table, 30-word synthetic documents of which 5% are
near-duplicates (another document plus a trailing " dup"), and unit
64-d embeddings with a weak per-label cluster structure.

Usage: python3 perfbench/gen.py OUT_DIR --sf SF
`--sf` scales the star schema and `events`; `documents` and `embeddings`
hold 500 rows each, as in the sf0.001 and sf0.01 testdata. The generator
seed is fixed (42): the benchmark's --seed varies the order of
operations, never the data.
"""
import argparse
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
N_DOCS = N_VECS = 500
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]


def days(rng, n, start, end):
    """n random midnight timestamps in [start, end]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, sf):
    rng = np.random.default_rng(SEED)
    m = sf / 0.001
    n_cust, n_supp, n_part = int(150 * m), max(int(10 * m), 2), int(200 * m)
    n_ord, n_line, n_ev = int(1500 * m), int(6000 * m), int(1000 * m)
    n_users = max(n_cust // 10, 15)
    os.makedirs(out, exist_ok=True)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())

    write(out, "region", {
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    write(out, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    write(out, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    write(out, "part", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    write(out, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days(rng, n_ord, datetime.date(1995, 1, 1),
                            datetime.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": days(rng, n_line, datetime.date(1995, 1, 2),
                           datetime.date(2001, 11, 4))})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    write(out, "events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": money(rng, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_docs, n_vecs = N_DOCS, N_VECS
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101)))
             for _ in range(n_docs)]
    for d in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[d] = texts[(d + 1 + rng.integers(0, n_docs - 1)) % n_docs] + " dup"
    write(out, "documents", {
        "doc_id": i64(np.arange(n_docs)),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": i64([len(t) for t in texts])})

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    x = rng.normal(size=(n_vecs, 64)) + 0.15 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": i64(np.arange(n_vecs)),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": i32(labels)})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, required=True)
    a = ap.parse_args()
    generate(a.out, a.sf)


if __name__ == "__main__":
    main()
