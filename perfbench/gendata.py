#!/usr/bin/env python3
"""Generate the analytics_sf01 tables (scale factor 0.1) into a directory.

The tables follow the distributions of the repository's test data: a
TPC-H-like star schema (region, nation, customer, supplier, part, orders,
lineitem) plus the events, documents and embeddings tables the query
inventory reads. Every draw comes from one generator seeded with 42, so
the output is the same on every run and every machine with the same numpy.

Usage: python3 perfbench/gendata.py <outdir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
SF = 0.1


def main(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED)
    k = SF / 0.1
    n_cust, n_supp, n_part = int(15000 * k), int(1000 * k), int(20000 * k)
    n_ord, n_li, n_ev = int(150000 * k), int(600000 * k), int(100000 * k)
    n_users, n_doc, n_emb = int(1500 * k), int(5000 * k), 2000

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })

    adjs = np.array(["large", "hot", "blue", "old", "cold", "red", "new",
                     "small"])
    nouns = np.array(["ring", "bolt", "plate", "screw", "cap", "wheel",
                      "case", "box"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    write("part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 8, n_part)], " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })

    d0 = np.datetime64("1995-01-01")
    span = int((np.datetime64("2001-08-01") - d0) / np.timedelta64(1, "D"))
    statuses = np.array(["O", "P", "F"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    odate = d0 + rng.integers(0, span + 1, n_ord).astype("timedelta64[D]")
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": statuses[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })

    lok = np.sort(rng.integers(0, n_ord, n_li))
    first = np.zeros(n_li, dtype=bool)
    first[0] = True
    first[1:] = lok[1:] != lok[:-1]
    idx = np.arange(n_li, dtype=np.int64)
    lineno = idx - np.maximum.accumulate(np.where(first, idx, 0)) + 1
    ship = (d0 + rng.integers(0, span + 1, n_li).astype("timedelta64[D]")
            + rng.integers(1, 96, n_li).astype("timedelta64[D]"))
    write("lineitem", {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": lineno.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ship.astype("datetime64[us]"),
    })

    ev_types = np.array(["click", "view", "purchase", "signup", "error"])
    e0 = np.datetime64("2024-01-01T00:00:00", "us")
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": e0 + rng.integers(0, 30 * 86400 * 1_000_000, n_ev).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]),
    })

    vocab = np.array([
        "a", "agg", "batch", "big", "column", "customer", "data", "dup",
        "fast", "filter", "group", "hash", "join", "key", "line", "merge",
        "order", "part", "query", "row", "scan", "slow", "small", "sort",
        "spark", "stream", "table", "the", "value", "vector", "window"])
    langs = np.array(["en", "de", "es", "fr", "zh"])
    nw = rng.integers(10, 101, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in nw]
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": np.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
