"""Seeded generator for the ten parquet tables the registered queries read.

It writes the schema of the project's test tables (a TPC-H-like star
schema, an ``events`` stream, ``documents`` and ``embeddings``) with the
same column types and value shapes, at a chosen number of customers, so
the ``queries`` workload reads nothing outside the benchmark's own
working directory. Properties some queries depend on:

* ``documents``: word text over a small vocabulary, 5 languages and 20
  sources, and about 5% near-duplicates (another document's text plus
  `` dup``), so the dedup and similarity queries find pairs.
* ``embeddings``: 64-d unit float32 vectors with a weak per-label
  centroid, so clustering and recall queries have structure to find.
* ``events``: a month of timestamps in order, 5 event types and a JSON
  ``props`` column.
* ``lineitem``/``orders``: dates from 1995 to 2001, so the date-range
  TPC-H predicates select rows.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group big "
         "sort query fast the").split()
LANGS = (["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "shiny"]
P_NOUN = ["widget", "bolt", "gear", "ring", "plate", "rod", "nut", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (lo_d + rng.integers(0, int((hi_d - lo_d).astype(np.int64)) + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, n_customers: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_supp, n_part = max(n_customers // 15, 10), max(n_customers * 4 // 3, 50)
    n_orders, n_lines = n_customers * 10, n_customers * 40
    n_events, n_users = n_customers * 20 // 3, max(n_customers // 10, 10)
    n_docs = n_customers // 3
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": rng.integers(0, 25, n_customers).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_customers),
        "c_mktsegment": rng.choice(SEGMENTS, n_customers),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": rng.integers(0, n_part, n_lines),
        "l_suppkey": rng.integers(0, n_supp, n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100,
        "l_tax": rng.integers(0, 9, n_lines) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_lines),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10 ** 6, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_docs).astype(np.int32)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_docs, 64)) + 0.45 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return out


def write(seed: int, n_customers: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, n_customers).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
