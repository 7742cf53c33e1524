"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the engine's `graft.core.Tables` registry reads
(`<dir>/<name>.parquet`, one file and one row group each, timestamps as
`timestamp[us]` without a zone) with the column domains of the
repository's TPC-H-ish test tables: 8x8 part names, 25 nations, 30-word
document vocabulary with 5% planted near-duplicates, 64-d unit
embeddings around 10 weak centroids. The same (seed, sizes) always
gives byte-identical tables.

Row counts scale from `sf` like the test tables do (part 200k*sf,
orders 1.5M*sf, lineitem 6M*sf, 15k*sf users); events, documents and
embeddings have their own counts. Events are denser per user than in
the test tables (about 670 a month each at 10k events and sf0.001) so
the keyed interval join (q11) finds hits for most users instead of
returning no rows.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

ORDER_LO = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_LO).days
SHIP_LO = dt.datetime(1995, 1, 2)
SHIP_DAYS = (dt.datetime(2001, 11, 4) - SHIP_LO).days
EVENT_LO = dt.datetime(2024, 1, 1)
EVENT_US = 30 * 86400 * 10**6


def _days(rng, lo, span, n):
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return (np.datetime64(lo, "us") + d).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    tbl = pa.table(cols)
    pq.write_table(tbl, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, tbl.num_rows))


def _documents(rng, n_docs):
    lens = rng.integers(10, 100, n_docs)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # 5% near-duplicates: a copy of another doc with the marker token
    # inserted near its end (n-gram Jaccard ~0.9-0.99 to the original)
    n_dup = n_docs // 20
    dups = rng.choice(n_docs, n_dup, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d in dups:
        toks = texts[rng.choice(originals)].split()
        at = len(toks) - int(rng.integers(0, min(3, len(toks)) + 1))
        texts[d] = " ".join(toks[:at] + ["dup"] + toks[at:])
    return {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n_vecs, dim=64, n_labels=10):
    centroids = rng.normal(size=(n_labels, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, n_labels, n_vecs)
    raw = 0.1414 * centroids[labels] + rng.normal(size=(n_vecs, dim)) / np.sqrt(dim)
    vecs = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def generate(out, seed, sf, n_events, n_docs, n_vecs):
    """Write every table for `seed` into `out` (created if missing)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_part = max(50, int(200_000 * sf))
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_users = max(10, int(15_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, ORDER_LO, ORDER_DAYS, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, SHIP_LO, SHIP_DAYS, n_line)})
    offs = np.sort(rng.integers(0, EVENT_US, n_events)).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64(EVENT_LO, "us") + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    _write(out, "documents", _documents(rng, n_docs))
    _write(out, "embeddings", _embeddings(rng, n_vecs))
