"""Seeded generator for the benchmark's input tables and pub/sub inputs.

Writes the ten tables the query packs read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the same column names and physical types as the
tables the query packs were written against, at scale factor SF
(600k lineitem rows, 100k events). The same seed gives byte-identical
files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.4, 0.15, 0.15, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
DIM = 64
LABELS = 10
SF = 0.1
# one pub/sub round sends each number once; one bulk batch posts the
# whole payload
SENDS_PER_ROUND = 8
BULK_ROWS = 25_000


def _micros(y, m, d):
    epoch = dt.datetime(1970, 1, 1)
    return int((dt.datetime(y, m, d) - epoch).total_seconds()) * 1_000_000


def _days(rng, n, lo, hi):
    """Whole-day timestamps (µs) uniform in [lo, hi]."""
    day = 86_400_000_000
    k = rng.integers(0, (hi - lo) // day + 1, n)
    return pa.array(lo + k * day, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def tables(out, seed, only=TABLES):
    """Write the tables named in `only` under `out`. Each table draws from
    its own random stream, so its content depends only on the seed."""
    os.makedirs(out, exist_ok=True)
    for name in only:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        _TABLE[name](out, rng)


def _region(out, rng):
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})


def _nation(out, rng):
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def _customer(out, rng):
    n = int(150_000 * SF)
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n)})


def _supplier(out, rng):
    n = int(10_000 * SF)
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})


def _part(out, rng):
    n = int(200_000 * SF)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": rng.choice(names, n),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)})


def _orders(out, rng):
    n, n_cust = int(1_500_000 * SF), int(150_000 * SF)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, _micros(1995, 1, 1), _micros(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n)})


def _lineitem(out, rng):
    n, n_ord = int(6_000_000 * SF), int(1_500_000 * SF)
    n_part, n_supp = int(200_000 * SF), int(10_000 * SF)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, _micros(1995, 1, 2), _micros(2001, 11, 4))})


def _events(out, rng):
    n = int(1_000_000 * SF)
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span, n)) + _micros(2024, 1, 1)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(out, rng):
    n = int(50_000 * SF)
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    # a few verbatim copies, so exact and near-duplicate detection
    # have true positives to find
    for a, b in rng.choice(n, (8, 2), replace=False):
        texts[max(a, b)] = texts[min(a, b)]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(out, rng):
    n = int(20_000 * SF)
    labels = rng.integers(0, LABELS, n)
    centers = rng.normal(0, 1, (LABELS, DIM))
    vecs = centers[labels] + rng.normal(0, 1.5, (n, DIM))
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


_TABLE = {name: globals()["_" + name] for name in TABLES}


def pubsub_inputs(out, seed):
    """One round's FizzBuzz inputs (one number per acked send) and the
    payload of one bulk batch, one value a line in numbers.txt and
    bulk.txt."""
    rng = np.random.default_rng([seed, 11])
    numbers = rng.integers(1, 1_000_000, SENDS_PER_ROUND)
    bulk = rng.integers(0, 1_000_000, BULK_ROWS)
    os.makedirs(out, exist_ok=True)
    for name, vals in (("numbers", numbers), ("bulk", bulk)):
        with open(os.path.join(out, f"{name}.txt"), "w") as f:
            f.write("\n".join(map(str, vals.tolist())) + "\n")
