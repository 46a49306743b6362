"""Seeded generator for the benchmark corpus.

Writes the ten tables the engine reads (`region` .. `embeddings`, one
parquet file each) with the schema and value ranges of the project's
synthetic testdata: TPC-H-like star tables scaled by `sf`, an `events`
stream of 1e6*sf rows over January 2024, and fixed-size `documents`
(random text over a 31-word vocabulary, one document in ten a
near-copy of another) and `embeddings` (64-d unit
vectors) tables. The same (seed, sf) always gives byte-identical
inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "large"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
DOCS = 500
DIM = 64
US_PER_DAY = 86_400_000_000


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    days = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 15)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 100)
    n_user = max(int(15_000 * sf), 5)
    i32, i64 = pa.int32(), pa.int64()

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part),
                                              rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2498)})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), i64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = rng.integers(10, 100, DOCS)
    text = [" ".join(rng.choice(VOCAB, w)) for w in words]
    # one document in ten is a near-copy of an earlier one with about
    # one word in twenty replaced, so the dedup operators find pairs
    for i in range(DOCS // 2, DOCS, 10):
        src = text[rng.integers(0, DOCS // 2)].split()
        for j in range(len(src)):
            if rng.random() < 0.05:
                src[j] = rng.choice(VOCAB)
        text[i] = " ".join(src)
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(DOCS), i64),
        "text": text,
        "lang": rng.choice(LANGS, DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": pa.array([len(t) for t in text], i64)})
    vec = rng.standard_normal((DOCS, DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(DOCS), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, DOCS), i32)})


def generate(out_dir, seed, sf):
    """Writes the corpus for (seed, sf) into out_dir once; returns it."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir
