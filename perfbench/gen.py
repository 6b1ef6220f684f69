#!/usr/bin/env python3
"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
same parquet schemas and value distributions as the repository's synthetic
testdata: one file per table, one row group per file. `scale` follows the
testdata's sf convention (scale 0.1 = 600k lineitem rows). The same
(seed, scale) always gives byte-identical files.

Usage: python3 perfbench/gen.py OUTDIR SEED SCALE
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ['a', 'agg', 'batch', 'big', 'column', 'customer', 'data', 'dup',
         'fast', 'filter', 'group', 'hash', 'join', 'key', 'line', 'merge',
         'order', 'part', 'query', 'row', 'scan', 'slow', 'small', 'sort',
         'spark', 'stream', 'table', 'the', 'value', 'vector', 'window']
REGIONS = ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']
SEGMENTS = ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
PART_ADJ = ['blue', 'cold', 'hot', 'large', 'new', 'old', 'red', 'small']
PART_NOUN = ['anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget']
PART_TYPES = ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD']
PRIORITIES = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
EVENT_TYPES = ['click', 'error', 'purchase', 'signup', 'view']
LANGS = ['en', 'de', 'es', 'fr', 'zh']


def _us(y, m, d):
    return int((datetime.datetime(y, m, d) - datetime.datetime(1970, 1, 1))
               .total_seconds()) * 1_000_000


def _days(rng, n, lo, hi):
    """Whole-day timestamps (µs) uniformly in [lo, hi]."""
    day = 86_400_000_000
    return lo + rng.integers(0, (hi - lo) // day + 1, n) * day


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def gen(out, seed, scale):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * scale))
    n_doc = max(250, int(50_000 * scale))
    n_emb = max(250, int(20_000 * scale))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(['F', 'O', 'P'])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, _us(1995, 1, 1), _us(2001, 8, 1))),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    l_orderkey = rng.integers(0, n_ord, n_line)
    l_partkey = rng.integers(0, n_part, n_line)
    l_suppkey = rng.integers(0, n_supp, n_line)
    l_linenumber = rng.integers(1, 8, n_line)
    l_quantity = rng.integers(1, 51, n_line)
    # (key, line number, quantity) per row, little-endian int64/int32/int32:
    # lake_ops' model of the table, read without going through the engine
    model = np.zeros(n_line, dtype=[("k", "<i8"), ("ln", "<i4"), ("q", "<i4")])
    model["k"], model["ln"], model["q"] = l_orderkey, l_linenumber, l_quantity
    model.tofile(os.path.join(out, "lineitem.model.bin"))
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(l_partkey, pa.int64()),
        "l_suppkey": pa.array(l_suppkey, pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": l_quantity.astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(['A', 'N', 'R'])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(['F', 'O'])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, n_line, _us(1995, 1, 2), _us(2001, 11, 4)))})
    start = _us(2024, 1, 1)
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, n_evt))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(150, n_cust // 10), n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(60.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    # documents: random token streams over the closed vocabulary; ~10% are
    # near-copies of an earlier document (one token substituted) and ~0.2%
    # exact copies, which gives the dedup / similarity-join queries work
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 0 and r < 0.002:
            texts.append(texts[rng.integers(0, i)])
        elif i > 0 and r < 0.10:
            toks = texts[rng.integers(0, i)].split(' ')
            toks[rng.integers(0, len(toks))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(' '.join(toks))
        else:
            texts.append(' '.join(VOCAB[t] for t in
                                  rng.integers(0, len(VOCAB), rng.integers(10, 101))))
    lang_p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=lang_p)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit 64-d vectors with a weak per-label bias
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.6, (10, 64))
    vecs = rng.normal(0.0, 8.0, (n_emb, 64)) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py OUTDIR SEED SCALE")
    gen(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
