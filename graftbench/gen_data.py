#!/usr/bin/env python3
"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables the engine's loaders read (`graft.Tables`): the
TPC-H-ish star (region, nation, customer, supplier, part, orders,
lineitem), the `events` stream table and the LLM-data tables
(`documents`, `embeddings`). Shapes, types and value domains follow the
engine's test data; every column is drawn independently from a fixed
numpy PCG64 stream, so a (scale, data seed) pair always yields
byte-identical parquet files and the stored result digests stay valid.

Usage: python3 gen_data.py <out_dir> <bench|tiny>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The data seed is fixed: `--seed` of the benchmark drives the op order
# and the lakehouse schedule, never the tables, because the catalog and
# corpus results are checked against digests stored with the benchmark.
DATA_SEED = 20240101

SCALES = {
    # rows per table; "bench" matches the engine's sf0.01 test data
    "bench": dict(customer=1500, supplier=100, part=2000, orders=15000,
                  lineitem=60000, events=10000, users=150,
                  documents=500, embeddings=500),
    "tiny": dict(customer=150, supplier=10, part=200, orders=1500,
                 lineitem=6000, events=1000, users=15,
                 documents=500, embeddings=500),
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "red", "small", "old", "new", "hot", "big", "green"]
NOUN = ["anvil", "bolt", "gear", "ring", "rod", "widget", "nut", "spring"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data", "big",
         "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def money(rng, lo, hi, n):
    """Doubles with exactly two decimals (the engine sums them as cents)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def ts_us(days_from, n_days, rng, n):
    """Midnight timestamps in [days_from, days_from + n_days)."""
    base = np.datetime64(days_from, "D")
    d = base + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, scale):
    n = SCALES[scale]
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    os.makedirs(out, exist_ok=True)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})

    ns = n["supplier"]
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})

    np_ = n["part"]
    write(out, "part", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(np_) % 1000) / 10.0})

    no = n["orders"]
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": ts_us("1995-01-01", 2405, rng, no),
        "o_orderpriority": rng.choice(PRIORITIES, no)})

    nl = n["lineitem"]
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": ts_us("1995-01-02", 2499, rng, nl)})

    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": np.sort(start + rng.integers(0, span_us, ne)
                      .astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.02:          # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.10:        # near duplicate: a few words swapped
            w = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(w), max(1, len(w) // 20)):
                w[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(w))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), k)))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv, dim = n["embeddings"], 64
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[2] not in SCALES:
        sys.exit(f"usage: {sys.argv[0]} <out_dir> <{'|'.join(SCALES)}>")
    generate(sys.argv[1], sys.argv[2])
