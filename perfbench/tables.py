"""Seeded generator for the `query_mix` dataset.

Writes the ten fixture tables the query catalog reads (`region nation
customer supplier part orders lineitem events documents embeddings`,
one parquet file each) with the schemas and value domains of the
project's synthetic TPC-H-ish test data. Row counts follow a scale
factor `sf` (orders = 150,000 x sf / 0.1, as in the fixtures);
`documents` and `embeddings` are fixed-size corpora.

The same (seed, sf) always produces byte-identical files.

    python3 perfbench/tables.py <out_dir> [--seed N] [--sf 0.01]
"""
import argparse
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
N_DOCS = 500
N_VECS = 500
DIM = 64
EPOCH_DATE = dt.datetime(1995, 1, 1)


def _write(out, name, table):
    # write to a temp name and rename: a reader never sees a partial file
    tmp = os.path.join(out, f".{name}.parquet.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, os.path.join(out, f"{name}.parquet"))


def _ts_ms(days):
    base = np.datetime64("1995-01-01T00:00:00", "ms")
    return base + days.astype("timedelta64[D]").astype("timedelta64[ms]")


def generate(out, seed=42, sf=0.01):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    scale = sf / 0.1
    n_cust = max(int(15000 * scale), 10)
    n_supp = max(int(1000 * scale), 5)
    n_part = max(int(20000 * scale), 20)
    n_orders = max(int(150000 * scale), 100)
    n_events = max(int(100000 * scale), 100)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s)}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}))

    ck = np.arange(n_cust)
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(ck, i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)}))

    sk = np.arange(n_supp)
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(sk, i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)}))

    pk = np.arange(n_part)
    names = [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]
    _write(out, "part", pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(names, s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2), f64)}))

    ok = np.arange(n_orders)
    odays = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(ok, i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_orders), 2), f64),
        "o_orderdate": pa.array(_ts_ms(odays), pa.timestamp("ms")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders), s)}))

    # 1..7 lines per order, ~4 on average (lineitem = 4 x orders)
    lines = rng.integers(1, 8, n_orders)
    lo = np.repeat(ok, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(lo)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lpart = rng.integers(0, n_part, n_li)
    price = np.round(qty * (900.0 + (lpart % 1000) * 0.1) * rng.uniform(0.04, 2.1, n_li), 2)
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(lo, i64),
        "l_partkey": pa.array(lpart, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(ln, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(price, f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(_ts_ms(np.repeat(odays, lines) + rng.integers(1, 122, n_li)),
                               pa.timestamp("ms"))}))

    # events: 30 days of activity, µs-aligned timestamps, ~1 event per
    # user per ~20 min at sf0.01 (the fixture's density)
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]")
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 10), n_events), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events), s),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n_events), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s)}))

    # documents: random word strings; one in ten is a near-duplicate of
    # an earlier document (a word or two swapped), so the dedup and
    # near-dup operators have clusters to find
    texts = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, N_DOCS), s),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)}))

    # embeddings: unit vectors around 10 label centroids
    centers = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(N_VECS), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args(argv)
    generate(a.out, a.seed, a.sf)


if __name__ == "__main__":
    main(sys.argv[1:])
