#!/usr/bin/env python3
"""Deterministic synthetic dataset for the benchmark.

Writes the ten parquet tables the engine's query packs read (the
TPC-H-like star schema, `events`, `documents`, `embeddings`) with the
schemas and value domains of the engine's test fixtures, at the row counts
of scale factor 0.001.

The dataset is a function of the fixed DATA_SEED alone: the query
references in `ref/` are digests of results over exactly these bytes. The
workload seed chooses query order and ingest batches, never the base
tables.

Usage: python3 gen_data.py --out DIR
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
DIM = 64
# row counts (scale factor 0.001)
N_CUST, N_SUPP, N_PART, N_ORD, N_LINE = 150, 10, 200, 1500, 6000
N_EV, N_USERS, N_DOC, N_EMB = 1000, 15, 500, 500


def days(rng, n, start, end):
    """n midnight timestamps (µs) uniform over [start, end]."""
    span = (end - start).days
    d0 = np.datetime64(start.isoformat(), "us")
    return d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def text(rng, lo=10, hi=100):
    return " ".join(rng.choice(VOCAB, int(rng.integers(lo, hi))))


def generate(out):
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n_cust, n_supp, n_part, n_ord, n_line = N_CUST, N_SUPP, N_PART, N_ORD, N_LINE
    write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2)})
    write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, n_ord, 1000, 500000),
        "o_orderdate": pa.array(days(rng, n_ord, dt.date(1995, 1, 1),
                                     dt.date(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(float)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(days(rng, n_line, dt.date(1995, 1, 2),
                                    dt.date(2001, 11, 4)), pa.timestamp("us"))})

    n_ev = N_EV
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    write(out, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]})

    # documents: a few exact copies and one-word edits, so the dedup
    # families find something
    n_doc = N_DOC
    texts = [text(rng) for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 50, replace=False):
        src = texts[int(rng.integers(0, n_doc))].split()
        if rng.random() < 0.5:
            src[int(rng.integers(0, len(src)))] = "dup"
        texts[i] = " ".join(src)
    write(out, "documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.14, 0.41, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit vectors around ten cluster centres
    n_emb = N_EMB
    centres = rng.normal(0, 1, (10, DIM))
    label = rng.integers(0, 10, n_emb)
    v = centres[label] + rng.normal(0, 0.9, (n_emb, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    generate(ap.parse_args().out)
