"""Seeded generator for the star-schema tables the catalog reads.

Writes the ten tables ``sources.loader.TESTDATA_TABLES`` names (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the column names, types and
value ranges of the engine's synthetic test data. The same (seed, sf)
always writes the same bytes, so a benchmark run's inputs depend on its
``--seed`` alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("big", "blue", "cold", "green", "hot", "large", "red", "small")
PART_NOUN = ("bolt", "gear", "nut", "pipe", "plate", "rod", "screw", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
EMBED_DIM = 64
DUP_SHARE = 0.05


def _write(out_dir: str, name: str, cols: dict, types: dict) -> None:
    table = pa.table({c: pa.array(v, type=types[c]) for c, v in cols.items()})
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype(
        "datetime64[us]")


def _documents(rng, n: int):
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < DUP_SHARE:
            # near-duplicate of an earlier document: the dedup queries'
            # positives
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(WORDS[j]
                              for j in rng.integers(0, len(WORDS), k)))
    return texts


def generate(out_dir: str, sf: float, seed: int) -> None:
    """Write every table for scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    _write(out_dir, "region",
           {"r_regionkey": np.arange(5), "r_name": list(REGIONS)},
           {"r_regionkey": i32, "r_name": s})
    _write(out_dir, "nation",
           {"n_nationkey": np.arange(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25) % 5},
           {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]},
           {"c_custkey": i64, "c_name": s, "c_nationkey": i32,
            "c_acctbal": f64, "c_mktsegment": s})
    _write(out_dir, "supplier",
           {"s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
           {"s_suppkey": i64, "s_name": s, "s_nationkey": i32,
            "s_acctbal": f64})
    keys = np.arange(n_part)
    _write(out_dir, "part",
           {"p_partkey": keys,
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part),
                           rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 2)},
           {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s,
            "p_size": i32, "p_retailprice": f64})
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": [("F", "O", "P")[j]
                              for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": [PRIORITIES[j]
                                for j in rng.integers(0, 5, n_ord)]},
           {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
            "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s})
    _write(out_dir, "lineitem",
           {"l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": [("A", "N", "R")[j]
                             for j in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[j]
                             for j in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)},
           {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64,
            "l_linenumber": i32, "l_quantity": f64, "l_extendedprice": f64,
            "l_discount": f64, "l_tax": f64, "l_returnflag": s,
            "l_linestatus": s, "l_shipdate": ts})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    _write(out_dir, "events",
           {"event_id": np.arange(n_evt),
            "ts": np.sort(t0 + rng.integers(0, span, n_evt)).astype(
                "datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_evt),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)],
            "value": np.maximum(0.01, np.round(rng.exponential(50, n_evt), 2)),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)]},
           {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s,
            "value": f64, "props": s})
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents",
           {"doc_id": np.arange(n_docs), "text": texts,
            "lang": [LANGS[j] for j in rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts]},
           {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})
    vecs = rng.standard_normal((n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(n_vecs), "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vecs)},
           {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})
