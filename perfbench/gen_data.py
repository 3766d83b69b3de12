#!/usr/bin/env python3
"""Deterministic input tables for the benchmark.

Writes the ten tables graft's queries read (`graft.Tables.names`) as one
parquet file each, with the column names and types of the engine's
star-schema test layout: region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings.

Every value is drawn from numpy's PCG64 generator seeded by (DATA_SEED,
table), so the same scale factor always gives byte-identical tables.
The benchmark's --seed does not reach this file: it only permutes the
order in which queries run, so the expected outputs in expected/ hold
for every seed.

Usage: python3 gen_data.py <sf> <outdir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "data", "table", "agg", "value", "key", "stream", "window",
         "spark", "a", "group", "part", "big", "sort", "query", "fast",
         "the"]
ADJ = ["small", "red", "blue", "hot", "old", "new", "cold", "large"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "rod", "plate"]


def rng(table):
    return np.random.Generator(np.random.PCG64([DATA_SEED, TABLES.index(table)]))


def rows(sf, base, floor):
    return max(floor, int(round(base * sf)))


def days(start, n_days, r, n):
    base = np.datetime64(start, "us")
    return base + (r.integers(0, n_days, n) * 86_400_000_000).astype("timedelta64[us]")


def money(x):
    return np.round(x, 2)


def build(sf):
    n_cust = rows(sf, 150_000, 150)
    n_supp = rows(sf, 10_000, 10)
    n_part = rows(sf, 200_000, 200)
    n_ord = rows(sf, 1_500_000, 1500)
    n_li = rows(sf, 6_000_000, 6000)
    n_ev = rows(sf, 1_000_000, 1000)
    n_doc = rows(sf, 50_000, 50)
    n_users = max(150, n_ev // 67)
    t = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    r = rng("customer")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(r.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]})

    r = rng("supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(r.uniform(-999.99, 9999.99, n_supp))})

    r = rng("part")
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": types[r.integers(0, len(types), n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})

    r = rng("orders")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": money(r.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": days("1995-01-01", 2405, r, n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, n_ord)]})

    r = rng("lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(r.uniform(900.0, 105_000.0, n_li)),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": days("1995-01-02", 2498, r, n_li)})

    r = rng("events")
    month_us = 30 * 86_400_000_000
    offs = np.sort(r.integers(0, month_us, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            r.integers(0, 5, n_ev)],
        "value": np.clip(money(r.lognormal(3.5, 1.0, n_ev)), 0.01, None),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    r = rng("documents")
    words = np.array(WORDS)
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(words[r.integers(0, len(words), r.integers(8, 90))]))
    # near-duplicates (one token appended) and a few exact duplicates,
    # so the dedup families have something to find at every scale
    for i in r.choice(n_doc, max(2, n_doc // 50), replace=False):
        j = int(r.integers(0, n_doc))
        if i != j:
            texts[i] = texts[j] + " dup"
    for i in r.choice(n_doc, n_doc // 600, replace=False):
        j = int(r.integers(0, n_doc))
        if i != j:
            texts[i] = texts[j]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[r.integers(0, 7, n_doc)],
        "source": [f"src{s}" for s in r.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})

    r = rng("embeddings")
    centers = r.normal(0.0, 1.0, (10, 64))
    label = r.integers(0, 10, n_doc)
    vec = centers[label] + r.normal(0.0, 0.8, (n_doc, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def main(sf, outdir):
    tmp = outdir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in build(float(sf)).items():
        pq.write_table(table, os.path.join(tmp, name + ".parquet"))
    os.replace(tmp, outdir)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
