"""Seeded synthetic tables for the query_mix workload.

Writes the ten tables the engine's catalog reads (``terasort_spark.catalog
.TABLES``) with the schemas and value domains documented in FIXTURES.md, so
the benchmark needs no data from outside its checkout. The same seed and
scale always give byte-identical files.

Row counts follow the TPC-H convention (``lineitem`` = 6M x scale); the
LLM tables keep their fixed floor of 500 rows at small scales.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PART_WORDS = (("small", "red", "blue", "large", "green"), ("ring", "widget", "bolt", "gear", "valve"))
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "de", "es", "fr", "zh")
EMB_DIM = 64

_US_PER_DAY = 86_400_000_000


def _epoch_us(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), size=n, p=p)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0, 2)


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    t = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = _pick(rng, PART_WORDS[0], n_part)
    noun = _pick(rng, PART_WORDS[1], n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )

    d0 = _epoch_us(dt.date(1995, 1, 1))
    n_days = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    order_day = rng.integers(0, n_days + 1, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ("O", "P", "F"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(d0 + order_day * _US_PER_DAY),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(
                d0 + (order_day[l_order] + rng.integers(1, 122, n_li)) * _US_PER_DAY
            ),
        }
    )

    # Event time rises with event_id, with up to two minutes of jitter so a
    # few arrivals are late against a watermark.
    span = 30 * _US_PER_DAY - 600_000_000
    base = np.sort(rng.integers(0, span, n_ev))
    jitter = rng.integers(0, 120_000_000, n_ev)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(_epoch_us(dt.date(2024, 1, 1)) + base + jitter),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )

    # One document in six is a near-duplicate of an earlier one (a copy
    # with up to three words replaced), so dedup and similarity queries
    # find real candidate pairs.
    texts: list[list[str]] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 1 / 6:
            words = list(texts[int(rng.integers(0, i))])
            for j in rng.integers(0, len(words), int(rng.integers(1, 4))):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = _pick(rng, VOCAB, int(rng.integers(8, 100)))
        texts.append(words)
    text = [" ".join(w) for w in texts]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": text,
            "lang": _pick(rng, LANGS, n_doc, p=(0.6, 0.1, 0.1, 0.1, 0.1)),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(s) for s in text], pa.int64()),
        }
    )

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tab in build_tables(seed, scale).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tab.num_rows
    return rows
