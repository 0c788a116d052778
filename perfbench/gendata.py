#!/usr/bin/env python3
"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine reads (`graft.Tables.names`) as one
parquet file each, one row group per file, with the column names,
types and value domains of the engine's fixture schema (FIXTURES.md):
a TPC-H-like star schema, an `events` stream table, a `documents` text
corpus with injected near-duplicates and an `embeddings` table of unit
vectors. Same (scale, seed) -> byte-identical values.

Usage: python3 perfbench/gendata.py <out_dir> <scale> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# category lists in the fixture generator's order: a value is drawn as
# an index into its list, so the order decides which value a draw gives
WORDS = ("the a spark query table join group filter window data order "
         "customer part line fast slow big small hash sort merge scan agg "
         "stream batch vector key value row column").split()
# drawn uniformly, so "en" has 3/7 of the documents
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days + 1, n).astype("timedelta64[D]")
    return base + d.astype("timedelta64[us]")


def documents(rng, n):
    """Random-word documents of 10-99 words. Then n/20 of them, drawn
    without replacement, are overwritten in turn by a copy of a random
    document plus the word "dup", so the dedup operators have
    near-duplicates to find (a copy of a copy gets "dup dup")."""
    texts = [" ".join(WORDS[j] for j in
                      rng.integers(0, len(WORDS), int(rng.integers(10, 100))))
             for _ in range(n)]
    targets = rng.choice(n, n // 20, replace=False)
    sources = rng.choice(n, n // 20)
    for i, j in zip(targets, sources):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)],
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(scale, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_users = max(10, int(15_000 * scale))
    n_docs, n_emb = max(500, int(50_000 * scale)), max(500, int(20_000 * scale))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["BUILDING", "AUTOMOBILE", "MACHINERY",
                                    "HOUSEHOLD", "FURNITURE"], n_cust).tolist()})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
    noun = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod",
            "ring"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                              "PROMO"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
        "o_totalprice": money(rng, 1000, 500_000, n_ord),
        "o_orderdate": days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"],
                                      n_ord).tolist()})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105_000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_line).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": days(rng, "1995-01-02", 2498, n_line)})
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "view", "purchase", "signup",
                                  "error"], n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = documents(rng, n_docs)
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(vec.tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def main():
    out_dir, scale, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables(scale, seed).items():
        for i, f in enumerate(t.schema):
            if pa.types.is_timestamp(f.type):
                t = t.set_column(i, f.name, t.column(i).cast(pa.timestamp("us")))
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows),
                       compression="snappy")
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    main()
