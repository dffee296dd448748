"""Seeded generator for the benchmark's input tables.

Writes the ten tables the program reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the schemas, row counts and value distributions
of the program's TPC-H-ish sf fixtures: at scale 0.1 that is 893,030
rows. Every file is a single row group, as in those fixtures, so a
reader that splits by row group sees one split per table.

The same seed always gives byte-identical files.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SCALE = 0.1


def _days(rng, start, n_days, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(seed):
    rng, scale = np.random.default_rng(seed), SCALE
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_line = int(1500000 * scale), int(6000000 * scale)
    n_ev, n_doc, n_emb = int(1000000 * scale), int(50000 * scale), int(20000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    pk = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(ADJ, n_part), " "),
                                       rng.choice(NOUN, n_part)), s),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)), s),
        "p_type": pa.array(rng.choice(P_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1), f64)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line), f64),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2), f64),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2), f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_line), ts)})
    # events arrive as a Poisson stream over 30 days: strictly increasing ts
    gaps = np.maximum(rng.exponential(30 * 86400e6 / 1000000 / scale, n_ev), 1.0)
    ev_ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps.astype(np.int64)).astype("timedelta64[us]")
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    # documents: random word runs; 5% are a copy of another doc plus " dup"
    n_words = rng.integers(10, 101, n_doc)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    ends = np.cumsum(n_words)
    texts = [" ".join(VOCAB[w] for w in words[e - n:e]) for e, n in zip(ends, n_words)]
    dups = rng.choice(n_doc, n_doc // 20, replace=False)
    is_dup = np.zeros(n_doc, bool)
    is_dup[dups] = True
    originals = np.flatnonzero(~is_dup)
    for i, j in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[j] + " dup"
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
