"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registered queries read (`graft.Tables.all`)
as one parquet file each, with the schemas and value domains of the
synthetic test tables the engine's oracle suite runs on: a TPC-H-like
star schema, an `events` stream, `documents` (a 30-word vocabulary with
planted exact and "... dup" near duplicates) and 64-dim unit
`embeddings`. The same seed always gives the same tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["HOUSEHOLD", "FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING"]
PTYPES = ["PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"]
PADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PNOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n):
    v = rng.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32)),
        pa.array(v.astype(np.float32).ravel()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def tables(seed, sf):
    """All ten tables at scale factor `sf` (sf 0.01 = 60k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_events, n_docs = int(1000000 * sf), int(50000 * sf)
    n_vecs = max(500, int(20000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line))}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + np.sort(
                rng.integers(0, 30 * 86400 * 10**6, n_events)).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 150, n_events)),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}),
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_vecs),
    }
    return out


def write(seed, sf, directory):
    os.makedirs(directory, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"))
