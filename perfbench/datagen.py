"""Seeded synthetic inputs in the shape of the engine's test tables.

The benchmark never reads data from outside its checkout, so it generates
every input from ``--seed``: the ten fixture-shaped tables the suite entries
read (``documents``, ``embeddings``, a TPC-H-like star schema and an
``events`` stream), written as single-file parquet with the same column
names and types as the engine's fixtures, and the plain document texts and
questions the MCP workloads send.

The document text model follows the fixtures: 10-99 words drawn uniformly
from a 30-word database vocabulary (``a`` is too short to be a token), with
about 5% near-duplicates that end in the extra token ``dup``.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
#: words outside the corpus vocabulary: questions built from them hit no
#: document lexically (the zero-hit lexical path is about 2x cheaper, so
#: their share of the request stream is fixed)
OOV = "zebra quartz nebula tundra falcon violet harbor copper".split()
LANGS = ("en", "en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` document texts; about 1 in 20 is a copy of an earlier text
    with ``dup`` appended, the fixtures' near-duplicate shape."""
    texts: list[str] = []
    lengths = rng.integers(10, 100, size=n)
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), size=int(lengths[i]))
            texts.append(" ".join(VOCAB[w] for w in words))
    return texts


def question(rng: np.random.Generator, oov: bool) -> str:
    """A 1-4 word question from the corpus vocabulary, or from words no
    document contains when ``oov``."""
    words = OOV if oov else VOCAB[1:]
    n = int(rng.integers(1, 5))
    return " ".join(words[int(w)] for w in rng.choice(len(words), size=n, replace=False))


def _ts(base: datetime, seconds: np.ndarray) -> list[datetime]:
    return [base + timedelta(seconds=float(s)) for s in seconds]


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten suite tables under ``out_dir`` (one ``<name>.parquet``
    file each) at ``scale`` (1.0 = the fixtures' sf0.01 row counts) and
    return their row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_docs = max(50, int(500 * scale))
    n_cust = max(30, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(40, int(2000 * scale))
    n_orders = max(100, int(15000 * scale))
    n_events = max(200, int(10000 * scale))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts_us = pa.timestamp("us")

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size=n), 2)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": [segments[i] for i in rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64),
    })
    adjectives = "blue cold hot red small big green old".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), f64),
    })
    order_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": pa.array(money(1000, 500000, n_orders), f64),
        "o_orderdate": pa.array(_ts(datetime(1995, 1, 1), order_day * 86400), ts_us),
        "o_orderpriority": [
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
            for i in rng.integers(0, 5, n_orders)
        ],
    })
    lines_per = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines_per)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship_day = np.minimum(order_day[l_order] + rng.integers(1, 122, n_li), 2500)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(l_num, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_ts(datetime(1995, 1, 1), ship_day * 86400), ts_us),
    })
    ev_sec = np.sort(rng.uniform(0, 30 * 86400, n_events))
    ev_sec = np.round(ev_sec * 1e6) / 1e6
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_events), i64),
        "ts": pa.array(_ts(datetime(2024, 1, 1), ev_sec), ts_us),
        "user_id": pa.array(rng.integers(0, 150, n_events), i64),
        "event_type": [
            ("click", "error", "purchase", "signup", "view")[i]
            for i in rng.integers(0, 5, n_events)
        ],
        "value": pa.array(np.round(np.clip(rng.exponential(50, n_events), 0.01, None), 2), f64),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts = document_texts(rng, n_docs)
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), i64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    emb = rng.normal(size=(n_docs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_docs), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), i32),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
