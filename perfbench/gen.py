#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

It writes the ``base`` corpus as parquet under a directory the caller
names: an sf0.1-shaped corpus of the ten tables the program reads
(TPC-H-style star schema of 600k line items, 100k events, 2,000 unit-norm
64-dim embeddings), with 1,000 documents instead of sf0.1's 5,000 (see
README.md). It is made from the fixed seed 42, so every run and every
commit measures the same inputs, and the committed expected outputs of
serve_mix stay valid. The workload seed drives only what the harness
does with it (attack noise, key order).

The output directory is keyed by the seed and by a fingerprint of this
file, so a stale corpus is never reused. A corpus is written to a
temporary directory and renamed into place, so an interrupted run leaves
nothing that looks complete.

    python3 perfbench/gen.py DIR     # prints the corpus path
"""
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DIM = 64
N_VEC = 2000

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _self_fingerprint():
    with open(__file__, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()[:12]


def _write(tbl, path):
    pq.write_table(tbl, path, compression="snappy")


def _ts(days, start, rng, n):
    """Day-granular timestamps in [start, start + days)."""
    return np.datetime64(start, "us") + rng.integers(0, days, n).astype(
        "timedelta64[D]").astype("timedelta64[us]")


def make_base(out):
    rng = np.random.default_rng(BASE_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n_cust = 15000
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    n_supp = 1000
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    n_part = 20000
    adj = ["blue", "red", "hot", "new", "large", "small", "green", "old",
           "cold", "dark", "light", "big", "tiny"]
    noun = ["anvil", "bolt", "ring", "rod", "plate", "widget", "gear",
            "spring", "nut", "pipe"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part),
                                              rng.choice(noun, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    n_ord = 150000
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(2404, "1995-01-01", rng, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    n_li = 600000
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(2499, "1995-01-02", rng, n_li)})

    n_ev = 100000
    # sorted event times over 30 days, microsecond resolution
    ts_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    users = rng.integers(0, 1500, n_ev)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
        "user_id": users.astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    for name in TABLES:
        _write(t[name], os.path.join(out, f"{name}.parquet"))


def _documents(rng, n=1000, near_dups=50, exact_dups=2):
    """Bags of words over a 30-word vocabulary; 5% of the documents are
    another document plus the token "dup", a few are exact copies."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    picks = rng.choice(np.arange(1, n), near_dups + exact_dups, replace=False)
    for j, i in enumerate(picks):
        src = int(rng.integers(0, n))
        while src == i:
            src = int(rng.integers(0, n))
        texts[i] = texts[src] + (" dup" if j < near_dups else "")
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n,
                           p=[0.14, 0.42, 0.15, 0.15, 0.14]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def _unit(x):
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _embeddings(rng, n=N_VEC, labels=10):
    """Unit vectors with a weak per-label direction, float32."""
    centers = rng.standard_normal((labels, DIM))
    lab = rng.integers(0, labels, n)
    x = _unit(rng.standard_normal((n, DIM)) + 0.5 * _unit(centers)[lab])
    vals = pa.array(x.astype(np.float32).reshape(-1), pa.float32())
    offs = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": pa.ListArray.from_arrays(offs, vals),
                     "label": pa.array(lab, pa.int32())})


def base_corpus(root):
    """The corpus's directory under root, generated unless it is there."""
    key = f"base-s{BASE_SEED}-{_self_fingerprint()}"
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(root, exist_ok=True)
    # one corpus is kept: those of older seeds and sources go
    for d in os.listdir(root):
        if d.startswith("base-") and d != key:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make_base(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(base_corpus(sys.argv[1]))
