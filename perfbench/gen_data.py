#!/usr/bin/env python3
"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the query registry reads (`<out>/<name>.parquet`, one
file each) in the shape of the repo's synthetic testdata: a TPC-H-like star
schema plus `events`, `documents` and `embeddings`. Row counts scale with
`sf` exactly as the testdata does (lineitem = 6M x sf, orders = 1.5M x sf,
customer = 150k x sf, events = 1M x sf over customer/10 users, documents and
embeddings with a floor of 500 rows). Same (sf, seed) gives byte-identical
files, so committed result fingerprints stay valid.

    python3 perfbench/gen_data.py --sf 0.02 --seed 42 --out <dir>
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def sizes(sf):
    n = lambda base: max(1, int(round(base * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": max(1, n(150_000) // 10),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def pick(rng, values, size, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), size, p=p)]


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    z = sizes(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = z["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pick(rng, SEGMENTS, nc)})
    ns = z["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    npart = z["part"]
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, PART_ADJ, npart),
                                              pick(rng, PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": pick(rng, PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    no = z["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], no),
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2405, no) * DAY_US,
        "o_orderpriority": pick(rng, PRIORITIES, no)})
    nl = z["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": pick(rng, ["F", "O"], nl),
        "l_shipdate": EPOCH_1995 + rng.integers(1, 2500, nl) * DAY_US})
    ne = z["events"]
    gaps = rng.exponential(30 * DAY_US / ne, ne)
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": EPOCH_2024 + np.cumsum(gaps).astype(np.int64),
        "user_id": rng.integers(0, z["users"], ne, dtype=np.int64),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = z["documents"]
    lengths = rng.integers(10, 101, nd)
    words = pick(rng, VOCAB, int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(nd)]
    # 5% near-duplicates: an earlier document's text plus a marker word
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": pick(rng, LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = z["embeddings"]
    vecs = rng.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv, dtype=np.int32)})
    return out


def write(sf, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(a.sf, a.seed, a.out)
