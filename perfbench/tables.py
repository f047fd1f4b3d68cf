"""Deterministic generator of the analytics tables the query suite reads.

Writes the ten TPC-H-ish tables (`region nation customer supplier part
orders lineitem events documents embeddings`, one parquet file each) with
the column names and types `graft.Tables` expects, at the size of the
repository's sf0.01 test data. The tables depend only on the fixed
generator seed below, never on a benchmark run's `--seed`: the pinned
per-key result hashes (pinned.tsv) are computed over exactly these bytes.

Usage: python3 perfbench/tables.py OUTDIR
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42

# row counts of the repository's sf0.01 test data
N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_USERS = 150
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
DIM = 64

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["small", "new", "blue", "old", "large", "hot", "cold", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def build():
    rng = np.random.default_rng(SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, N_SUPPLIER, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, N_ORDERS, 1000.0, 500000.0),
        "o_orderdate": _days(rng, N_ORDERS, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)]})
    flags = [("A", "O"), ("N", "F"), ("N", "O"), ("A", "F"), ("R", "F"), ("R", "O")]
    fl = rng.integers(0, 6, N_LINEITEM)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, N_LINEITEM, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": [flags[i][0] for i in fl],
        "l_linestatus": [flags[i][1] for i in fl],
        "l_shipdate": _days(rng, N_LINEITEM, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, N_EVENTS))
    t["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.minimum(np.round(rng.exponential(100.0, N_EVENTS), 2), 560.21),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    t["documents"] = pa.table(_documents(rng))
    t["embeddings"] = pa.table(_embeddings(rng))
    return t


def _documents(rng):
    texts = []
    for i in range(N_DOCUMENTS):
        r = rng.random()
        if i >= 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i >= 10 and r < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]  # near duplicate
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), n)))
    return {
        "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(5, N_DOCUMENTS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())}


def _embeddings(rng):
    centers = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (N_EMBEDDINGS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(range(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}


def write(outdir):
    os.makedirs(outdir, exist_ok=True)
    for name, table in build().items():
        pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1])
