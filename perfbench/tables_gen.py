"""Seeded generator of the query library's ten input tables.

The schemas, key ranges and value domains follow the library's fixture
tables (TPC-H-shaped star schema plus ``events``, ``documents`` and
``embeddings``), so every registered query and its DuckDB oracle run on
them unchanged.  Row counts scale with ``sf`` like the fixtures: at
sf=0.01, 60k lineitems, 15k orders, 10k events, 500 documents and 500
64-dimensional embeddings.  The seed picks values, never row counts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "green", "red", "black", "white", "small", "large", "shiny"]
NOUNS = ["anvil", "widget", "gear", "bolt", "spring", "valve", "pipe", "lamp"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("join hash row batch scan column customer filter small slow merge order vector "
         "line table data agg value key stream window a spark part group big sort query "
         "fast the").split()
LANGS = ["de", "en", "es", "fr", "zh"]
DIM = 64
N_LABELS = 10


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_users = max(15, int(15_000 * sf))
    day_us = 86_400 * 1_000_000
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    price = np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    })
    order_days = rng.integers(0, 2400, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts("1995-01-01", order_days * day_us),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    l_ord = rng.integers(0, n_ord, n_li)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_part] * rng.uniform(0.98, 1.02, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-01", (order_days[l_ord] + rng.integers(1, 122, n_li)) * day_us),
    })
    ev_us = np.sort(rng.integers(0, 30 * day_us, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(rng.choice(WORDS, rng.integers(8, 80))) for _ in range(n_doc)]
    for i in range(0, n_doc, 20):  # planted near-duplicates for the dedup queries
        if i + 1 < n_doc:
            texts[i + 1] = texts[i] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, N_LABELS, n_doc)
    centers = rng.normal(0, 1, (N_LABELS, DIM))
    vecs = (centers[labels] + rng.normal(0, 0.5, (n_doc, DIM))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(seed: int, sf: float, out_dir: str) -> dict[str, str]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in tables(seed, sf).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths
