"""Seeded synthetic lakehouse tables for the benchmark.

The engine's queries read ten parquet tables from one directory: a
TPC-H-like star schema (region, nation, customer, supplier, part,
orders, lineitem), an ``events`` stream table, a ``documents`` text
corpus and an ``embeddings`` vector table. This module writes them
with the schemas, row counts and value distributions of the engine's
reference test tables (TESTDATA.md), scaled by ``sf``. At sf0.1 that is
600k lineitem rows, 100k events from 1500 users over 30 days, 5000
documents of 10-100 words (5 % of them an earlier text plus " dup")
and 2000 64-d unit vectors, so only the first 2000 documents have a
vector. Dates are ``timestamp[us]``, and ``n_chars`` is the text's
length. Everything comes from one numpy generator seed, so the same
(sf, seed) always yields the same data.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = (np.datetime64(start, "D") - _EPOCH).astype(np.int64)
    hi = (np.datetime64(end, "D") - _EPOCH).astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(sf: float) -> dict[str, int]:
    """Row count of each table at ``sf``, plus the number of event users."""
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)), "embeddings": max(500, int(20_000 * sf)),
        "users": int(15_000 * sf),
    }


def _frames(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    root = np.random.SeedSequence(seed)
    rngs = dict(zip(TABLES, (np.random.default_rng(s) for s in root.spawn(len(TABLES)))))
    n = sizes(sf)
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_orders, n_line = n["orders"], n["lineitem"]
    n_events, n_users = n["events"], n["users"]
    n_docs, n_vecs = n["documents"], n["embeddings"]
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5}
    )

    r = rngs["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(_SEGMENTS, n_cust),
    })

    r = rngs["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = rngs["part"]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(_ADJ, n_part), r.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": r.choice(_PTYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })

    r = rngs["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_orders),
        "o_orderstatus": r.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(r, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_orders, r),
        "o_orderpriority": r.choice(_PRIORITIES, n_orders),
    })

    r = rngs["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": r.integers(0, n_orders, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": np.round(r.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, r),
    })

    r = rngs["events"]
    span_us = 30 * 86_400_000_000
    ts = np.sort(r.integers(0, span_us, n_events)) + (
        np.datetime64("2024-01-01", "us") - np.datetime64("1970-01-01", "us")
    ).astype(np.int64)
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": r.integers(0, n_users, n_events),
        "event_type": r.choice(_EVENT_TYPES, n_events),
        "value": np.round(r.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
    })

    r = rngs["documents"]
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and r.random() < 0.05:
            # near-duplicate of an earlier document: the dedup tier's signal
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(_WORDS, int(r.integers(10, 101)))))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": r.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    r = rngs["embeddings"]
    vecs = r.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": r.integers(0, 10, n_vecs).astype(np.int32),
    })
    return out


_SCHEMAS = {"embeddings": pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
])}


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in _frames(sf, seed).items():
        table = pa.Table.from_pandas(df, schema=_SCHEMAS.get(name), preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
