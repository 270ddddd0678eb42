"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the declared query faces read (a TPC-H-shaped star
schema plus `events`, `documents` and `embeddings`), one parquet file
each, at the TPC-H sf 0.1 size: 150k orders, ~600k lineitems, 5k
documents. The value domains follow the tables the faces were written against (`NATION_<n>`,
`Brand#<n>`, five market segments, 1995-2001 dates, a small document
vocabulary with near-duplicates), so every face has rows to work on.

The content depends only on DATA_SEED, never on the run's `--seed`: the
stored oracle hashes in faces.txt are computed over exactly these
bytes. Per-run randomness (which keys are read, which slices loaded)
comes from `--seed` inside the harness.

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VEC_DIM = 64

WORDS = ("a the data spark table row column key value scan filter join "
         "group agg sort hash merge stream window batch query part line "
         "order customer vector fast slow big small").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = "red hot cold new small large old blue".split()
P_NOUN = "bolt ring rod plate anvil gear nut pipe".split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def dates(days):
    return pa.array(EPOCH_1995 + days.astype("int64") * DAY_US,
                    type=pa.timestamp("us"))


def main(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    n_orders = 150_000
    n_customers = 15_000
    n_suppliers = 1_000
    n_parts = 20_000
    n_events = 100_000
    n_docs = 5_000
    n_vecs = 2_000

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(n_customers, dtype=np.int64)
    write(out, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_customers),
        "c_mktsegment": [SEGMENTS[i] for i in
                         rng.integers(0, 5, n_customers)]})

    sk = np.arange(n_suppliers, dtype=np.int64)
    write(out, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_suppliers), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_suppliers)})

    pk = np.arange(n_parts, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_parts), rng.integers(0, 8, n_parts))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_parts)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_parts)],
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})

    ok = np.arange(n_orders, dtype=np.int64)
    odays = rng.integers(0, 2404, n_orders)
    write(out, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_customers, n_orders),
        "o_orderstatus": [("F", "O", "P")[i] for i in
                          rng.integers(0, 3, n_orders)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": dates(odays),
        "o_orderpriority": [PRIORITIES[i] for i in
                            rng.integers(0, 5, n_orders)]})

    # 1..7 lines per order (mean 4), keys (l_orderkey, l_linenumber) unique;
    # rows shuffled so the source file is not in key order
    lines = rng.integers(1, 8, n_orders)
    l_ok = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_ln = (np.arange(len(l_ok)) - starts + 1).astype(np.int32)
    n = len(l_ok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    l_pk = rng.integers(0, n_parts, n)
    perm = rng.permutation(n)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n)
    lineitem = {
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": rng.integers(0, n_suppliers, n),
        "l_linenumber": l_ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (l_pk % 1000) / 10.0)
                                    * rng.uniform(0.98, 1.02, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
    }
    lineitem = {k: v[perm] for k, v in lineitem.items()}
    lineitem["l_shipdate"] = dates(ship[perm])
    write(out, "lineitem", lineitem)

    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(start + ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_events),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)]})

    # word-bag documents; every 25th is a near-copy of an earlier one
    # (one word replaced) and every 400th an exact copy, so the dedup
    # faces have clusters to find
    texts = []
    for i in range(n_docs):
        if i >= 100 and i % 400 == 0:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 100 and i % 25 == 0:
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), k)))
    write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, VEC_DIM))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, VEC_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: gen_data.py <out_dir>")
    main(sys.argv[1])
