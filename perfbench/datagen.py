"""Deterministic synthetic tables for the benchmark.

Writes the ten driver-shaped parquet tables (the TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) with the
column names, types and value ranges of the engine's test data, so
every registry query and its DuckDB oracle run on them unchanged.
Row counts scale with ``sf`` the way the test data's do (lineitem
≈ 6M × sf). The content depends only on ``sf`` and ``seed``.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()

#: events span 30 days from here; the ingestion workloads plan inside it
EVENTS_START = datetime(2024, 1, 1)
EVENTS_DAYS = 30

_ORDER_START = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _ORDER_START).astype(np.int64))


def _str(values) -> pa.Array:
    return pa.array(values, type=pa.string())


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _pick(rng, choices, n, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.array(np.asarray(choices, dtype=object)[idx], type=pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def generate(out_dir: str, sf: float, seed: int = 42, tables=TABLES) -> None:
    """Write ``tables`` under ``out_dir``. Each group of tables draws
    from its own stream, so a subset holds the same rows as the full
    set."""
    os.makedirs(out_dir, exist_ok=True)
    wanted = set(tables)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_evt = max(int(1_000_000 * sf), 1_000)
    n_user = max(int(15_000 * sf), 15)
    n_doc = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)

    if wanted & set(TABLES[:7]):
        _star(out_dir, np.random.default_rng([seed, 0]), n_cust, n_supp, n_part, n_ord)
    if "events" in wanted:
        _events(out_dir, np.random.default_rng([seed, 1]), n_evt, n_user)
    if "documents" in wanted:
        _documents(out_dir, np.random.default_rng([seed, 2]), n_doc)
    if "embeddings" in wanted:
        _embeddings(out_dir, np.random.default_rng([seed, 3]), n_vec)


def _star(out_dir, rng, n_cust, n_supp, n_part, n_ord) -> None:
    n_line = n_ord * 4
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _str(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": _str([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _str([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _str([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _str([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) % 1000 * 0.1, 1)),
    })

    order_day = rng.integers(0, _ORDER_DAYS + 1, n_ord)
    order_date = (_ORDER_START + order_day).astype("datetime64[us]")
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(order_date, pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })

    l_order = rng.integers(0, n_ord, n_line, dtype=np.int64)
    # as in the test data, a ship date is not tied to its order's date
    ship = (
        _ORDER_START + rng.integers(0, _ORDER_DAYS + 1, n_line) + rng.integers(1, 96, n_line)
    ).astype("datetime64[us]")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def _events(out_dir, rng, n_evt, n_user) -> None:
    span_us = EVENTS_DAYS * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, n_evt))
    ts = np.datetime64(EVENTS_START, "us") + ts_us.astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        # nanosecond timestamps, as in the test data (read via nanosAsLong)
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": _str([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })


def _documents(out_dir, rng, n_doc) -> None:
    texts = [
        " ".join(WORDS[w] for w in rng.choice(len(WORDS), size=int(rng.integers(10, 100))))
        for _ in range(n_doc)
    ]
    # near-duplicates: 5 % of the documents become another one plus a
    # token, the other drawn from the whole set (so a few pairs are
    # exact duplicates and a few near-duplicates chain)
    for i in np.sort(rng.choice(n_doc, n_doc // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": _str(texts),
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": _str([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(out_dir, rng, n_vec) -> None:
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec, dtype=np.int32)),
    })
