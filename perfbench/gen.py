#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes parquet tables in the corpus layout the program reads (one
`<table>.parquet` file per table, with the column names and types of the
corpus described in TESTDATA.md) and the operation sequence of the query
mix.

    python3 gen.py corpus  <dir>                     # fixed sf0.1 corpus for query_mix
    python3 gen.py loanbook <dir> --seed N --sf F    # seeded loan book for etl_load
    python3 gen.py sequence <file> --seed N --workload W --pools pools.json

The corpus is seed-independent: its expected result digests are
recorded once (expected/digests.json). The loan book and the mix
sequence are drawn from the seed.
"""
import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101
CORPUS_SF = 0.1
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01T00:00:00 in microseconds
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01T00:00:00
TS = pa.timestamp("us")


def write(out, name, cols):
    tmp = os.path.join(out, f".{name}.parquet.tmp")
    pq.write_table(pa.table(cols), tmp, compression="snappy")
    os.replace(tmp, os.path.join(out, f"{name}.parquet"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def loan_tables(rng, out, sf):
    """customer / orders / lineitem: the three inputs of the loan ETL."""
    n_cust, n_ord = max(1, int(150_000 * sf)), max(1, int(1_500_000 * sf))
    ck = np.arange(n_cust, dtype=np.int64)
    write(out, "customer", {
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust)),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    write(out, "orders", {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(odate, type=TS),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord)),
    })
    # 1..7 lines per order; ~2% of orders have none (the left-join null path)
    per = rng.integers(1, 8, n_ord)
    per[rng.random(n_ord) < 0.02] = 0
    lk = np.repeat(ok, per)
    n_li = len(lk)
    starts = np.cumsum(per) - per
    lineno = (np.arange(n_li) - np.repeat(starts, per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": pa.array(lk),
        "l_partkey": pa.array(rng.integers(0, 20_000, n_li)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n_li)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "R", "A"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(np.repeat(odate, per)
                               + rng.integers(1, 122, n_li) * DAY_US, type=TS),
    })
    return n_cust + n_ord + n_li


def corpus(out):
    """The full corpus the query mix reads."""
    sf = CORPUS_SF
    rng = np.random.default_rng(CORPUS_SEED)
    rows = loan_tables(rng, out, sf)
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    n_sup, n_part = int(10_000 * sf), int(200_000 * sf)
    sk = np.arange(n_sup, dtype=np.int64)
    write(out, "supplier", {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup, dtype=np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_sup)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.choice(["red", "small", "hot", "cold", "old", "new", "large", "blue"], n_part)
    noun = rng.choice(["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"], n_part)
    write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    })
    n_ev = int(1_000_000 * sf)
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=TS),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": pa.array(rng.choice(
            ["signup", "purchase", "view", "click", "error"], n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    # documents: bag-of-words texts; 5% are an earlier document plus " dup"
    n_doc = max(500, int(50_000 * sf))
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 101)))))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "zh", "es", "fr", "de"], n_doc,
                                    p=[0.41, 0.15, 0.15, 0.15, 0.14])),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    # embeddings: 64-d unit vectors, weakly clustered by label
    n_vec, dim = max(500, int(20_000 * sf)), 64
    centers = rng.standard_normal((10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_vec, dtype=np.int32)
    x = rng.standard_normal((n_vec, dim)) / np.sqrt(dim) + 0.6 * centers[label] / 8
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })
    return rows + 5 + 25 + n_sup + n_part + n_ev + n_doc + n_vec


def sequence(seed, workload, pools):
    """One pass of the closed-loop client, repeated until the run ends.

    The pass runs every dashboard of the workload (pools.json `reads`) once
    in a fixed order, then revisits `repeats` popular ones that the seed
    draws from the `popular` candidates, with the writes spread evenly
    between the reads in their fixed order. The candidates are mid-cost
    dashboards, so every seed's pass has the same cost profile; only which
    dashboards repeat differs.
    """
    rng = np.random.default_rng(seed)
    pool = pools[workload]
    reads = pool["reads"] + [str(q) for q in
                             rng.choice(pool["popular"], pool["repeats"], replace=False)]
    writes = pool["writes"]
    ops, w = [], 0
    for k, q in enumerate(reads, 1):
        ops.append(q)
        while w < len(writes) and (w + 1) * len(reads) <= k * len(writes):
            ops.append(writes[w])
            w += 1
    return ops


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=["corpus", "loanbook", "sequence"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--workload")
    ap.add_argument("--pools")
    a = ap.parse_args(argv)
    if a.kind == "sequence":
        with open(a.pools) as f:
            pools = json.load(f)
        with open(a.out, "w") as f:
            f.write("\n".join(sequence(a.seed, a.workload, pools)) + "\n")
        return
    os.makedirs(a.out, exist_ok=True)
    if a.kind == "corpus":
        rows = corpus(a.out)
    else:
        rows = loan_tables(np.random.default_rng(a.seed), a.out, a.sf)
    with open(os.path.join(a.out, "_inputs.json"), "w") as f:
        json.dump({"rows": rows, "bytes": sum(
            os.path.getsize(os.path.join(a.out, n)) for n in os.listdir(a.out)
            if n.endswith(".parquet"))}, f)


if __name__ == "__main__":
    main(sys.argv[1:])
