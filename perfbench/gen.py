"""Seeded generator for the ten input tables the queries read.

The tables copy the repo's TPC-H-style test tables (FIXTURES.md §E):
region, nation, supplier, customer, part, orders, lineitem, events,
documents and embeddings, with the same columns and parquet types.
Row counts follow the scale factor as the test tables' do, and every
distribution below was set from readings of the test tables at scale
0.001, 0.01 and 0.1 (perfbench/README.md, "Input tables"). The same
(scale, seed) always writes byte-identical parquet files.

Usage: python3 perfbench/gen.py <out_dir> <scale> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
# Test tables at scale 0.1: en 2,059 of 5,000 documents, the others 702-753.
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
# The 30 words of every original document, each about equally frequent.
VOCAB = ("a agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
# Exactly one document in 20 (25 of 500, 250 of 5,000) is a copy of
# another document's text with this word appended.
DUP_MARK = "dup"
DUP_EVERY = 20
EMBED_DIM = 64
LABELS = 10


def _days(start, lo, hi, n, rng):
    """n random dates in [start + lo, start + hi] days, as datetime64[us]."""
    return (np.datetime64(start, "us")
            + rng.integers(lo, hi + 1, n).astype("timedelta64[D]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng, n):
    """Uniform words from VOCAB, 10-99 per document (uniform length, as
    in the test tables: mean 54-56 words). Then n // DUP_EVERY documents
    become a copy of another document plus DUP_MARK; a copy of a copy
    carries the mark twice, as some test documents do."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
             for _ in range(n)]
    for i in np.sort(rng.choice(n, n // DUP_EVERY, replace=False)):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " " + DUP_MARK
    return texts


def generate(out_dir, scale, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * scale))
    n_cust = max(150, int(150_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    n_evt = max(1_000, int(1_000_000 * scale))
    n_user = max(15, int(15_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))
    names = np.array([f"{a} {n}" for a in ADJECTIVES for n in NOUNS])
    _write(out_dir, "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(TYPES)[rng.integers(0, len(TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days("1995-01-01", 0, 2404, n_ord, rng),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", 0, 2498, n_line, rng)}))
    # Timestamps are microseconds, the unit of all three test-table
    # scales (FIXTURES.md §E lists an older generation's ms and ns).
    span_us = 30 * 86_400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_evt))
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}))
    texts = _texts(rng, n_doc)
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    # Unit vectors in uniformly random directions, labels independent of
    # them: in the test tables the mean cosine of same-label pairs
    # (0.0016) equals that of other pairs (0.0003), sd 0.125 = 1/sqrt(64).
    labels = rng.integers(0, LABELS, n_emb)
    vecs = rng.normal(0, 1, (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
