"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``) as one
parquet file each, with the schemas and value ranges of the engine's
TPC-H-ish test fixtures. The same (seed, sf) always gives byte-identical
rows, so a run's inputs are a pure function of its ``--seed``.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "screw", "pipe", "valve"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]  # en ~3/7, others ~1/7
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n: int, start: tuple, end: tuple) -> pa.Array:
    lo, hi = _epoch_us(*start) // _US_PER_DAY, _epoch_us(*end) // _US_PER_DAY
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def counts(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(10, int(6_000_000 * sf)),
        "events": max(10, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def events_table(seed: int, n: int, users: int) -> pa.Table:
    """``events``: ids in time order over 2024-01-01..2024-01-30."""
    rng = np.random.default_rng([seed, 8])
    # whole seconds: the sessionize oracle compares gaps in epoch seconds
    start = _epoch_us(2024, 1, 1)
    ts = start + np.sort(rng.integers(0, 30 * 86_400, n, dtype=np.int64)) * 1_000_000
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(seed: int, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary; every 20th document is a
    near-duplicate (an earlier text plus the token ``dup``)."""
    rng = np.random.default_rng([seed, 9])
    vocab = np.asarray(_VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 11 and i > 20:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 96)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around ten labelled centres."""
    rng = np.random.default_rng([seed, 10])
    centres = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + rng.normal(0.0, 0.8, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def lineitem_table(seed: int, n: int, orders: int, parts: int, supps: int) -> pa.Table:
    rng = np.random.default_rng([seed, 7])
    flags = np.asarray(["A", "N", "R"], dtype=object)
    status = np.asarray(["F", "O"], dtype=object)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, parts, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, supps, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n, 900.0, 105_000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(status[rng.integers(0, 2, n)]),
        "l_shipdate": _days(rng, n, (1995, 1, 2), (2001, 11, 4)),
    })


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    c = counts(sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731

    def rng(k: int):
        return np.random.default_rng([seed, k])

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(_REGIONS)})
    tables["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    r, n = rng(1), c["customer"]
    tables["customer"] = pa.table({
        "c_custkey": i64(range(n)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": i32(r.integers(0, 25, n)),
        "c_acctbal": pa.array(_money(r, n, -999.99, 9999.99)),
        "c_mktsegment": _pick(r, _SEGMENTS, n),
    })
    r, n = rng(2), c["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": i64(range(n)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": i32(r.integers(0, 25, n)),
        "s_acctbal": pa.array(_money(r, n, -999.99, 9999.99)),
    })
    r, n = rng(3), c["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": i64(range(n)),
        "p_name": _pick(r, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
        "p_type": _pick(r, _PART_TYPES, n),
        "p_size": i32(r.integers(1, 51, n)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)),
    })
    r, n = rng(4), c["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": i64(range(n)),
        "o_custkey": i64(r.integers(0, c["customer"], n)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(r, n, 1000.0, 500_000.0)),
        "o_orderdate": _days(r, n, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(r, _PRIORITIES, n),
    })
    tables["lineitem"] = lineitem_table(
        seed, c["lineitem"], c["orders"], c["part"], c["supplier"]
    )
    tables["events"] = events_table(seed, c["events"], max(15, c["customer"] // 10))
    tables["documents"] = _documents(seed, c["documents"])
    tables["embeddings"] = _embeddings(seed, c["embeddings"])
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {k: t.num_rows for k, t in tables.items()}
