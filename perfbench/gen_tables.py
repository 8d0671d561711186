"""Seeded synthetic tables for the query_mix workload.

Writes the ten parquet tables the engine's query surface reads
(`region nation customer supplier part orders lineitem events documents
embeddings`), with the column names and types of the engine's star
schema. Row counts scale with `sf`; the same (seed, sf) always gives
the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PART_ADJ = ["small", "red", "blue", "large", "green", "steel"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "valve", "panel"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"]


def _ts(days_from_epoch):
    return pa.array((days_from_epoch * 86400 * 1_000_000).astype("int64"),
                    pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n):
    """Random word documents plus near-duplicate chains of a fixed shape:
    in every block of 20 documents, number 10 repeats number 0 with a
    marker word and number 15 repeats number 10 with another. The
    near-duplicate graph (and so the rounds the fixpoint queries take)
    is the same for every seed; only the words change."""
    texts = []
    for i in range(n):
        if i % 20 in (10, 15):
            texts.append(texts[i - (10 if i % 20 == 10 else 5)] + " dup")
        else:
            # chain heads are long, so one marker word keeps them near-duplicates
            k = int(rng.integers(50, 100)) if i % 20 == 0 else int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    lab = rng.integers(0, labels, n)
    v = centers[lab] + rng.normal(scale=1.5, size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array([row.astype("float32") for row in v],
                              pa.list_(pa.float32())),
        "label": pa.array(lab.astype("int32")),
    }


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)])})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 5, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2))})
    odays = rng.integers(9131, 9131 + 2404, n_ord)  # 1995-01-01 .. 2001-07-31
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(odays),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)])})
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), per)
    n_li = len(okey)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1).astype("int32")
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(np.repeat(odays, per) + rng.integers(1, 122, n_li))})
    secs = np.sort(rng.uniform(0, 30 * 86400, n_evt))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype="int64")),
        "ts": pa.array((1704067200_000000 + secs * 1e6).astype("int64"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), n_evt).astype("int64")),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt) + 0.01, 2)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)])})
    _write(out, "documents", _documents(rng, n_doc))
    _write(out, "embeddings", _embeddings(rng, n_emb))
