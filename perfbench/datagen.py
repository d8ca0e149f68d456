"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the registry reads (``akka_streams_kinesis_spark.io.TABLES``)
as parquet files with the same column names and types as the engine's test
data: a TPC-H-like star schema, an ``events`` table, a small ``documents``
corpus with near-duplicates and unit-norm ``embeddings``. The same seed always
gives the same bytes of data, so two trees measured on one seed see identical
inputs.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _us(day0: str, offsets_us: np.ndarray) -> pa.Array:
    base = (np.datetime64(day0, "us") - _EPOCH).astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), pa.int64()).cast(pa.timestamp("us"))


def _days(day0: str, days: np.ndarray) -> pa.Array:
    return _us(day0, days.astype(np.int64) * 86_400_000_000)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def make_tables(rng: np.random.Generator, n_events: int) -> dict[str, pa.Table]:
    """Return every table as an Arrow table; sizes match the engine's sf0.01
    test data except ``events``, which has ``n_events`` rows."""
    n_cust, n_supp, n_part, n_ord, n_line = 1500, 100, 2000, 15000, 60000
    n_users = max(15, n_events * 15 // 1000)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
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
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_line)),
        }
    )
    month_us = 30 * 86_400_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _us("2024-01-01", np.sort(rng.integers(0, month_us, n_events))),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.round(np.minimum(rng.exponential(50.0, n_events), 490.0) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    t["documents"] = _documents(rng, 500)
    vec = rng.standard_normal((500, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(500), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, 500), pa.int32()),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; one in twenty is an earlier document with
    ' dup' appended, so near-duplicate detection has real pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int, n_events: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns table → row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    for name, tbl in make_tables(rng, n_events).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


def relay_records(seed: int, n: int) -> list[tuple[str, bytes]]:
    """Distinct ``(partition_key, data)`` records for the relay workload:
    small JSON payloads keyed by one of 64 user ids."""
    rng = np.random.default_rng(seed + 7919)
    users = rng.integers(0, 64, n)
    values = np.round(rng.uniform(0.0, 100.0, n), 2)
    stamp = datetime(2024, 1, 1).isoformat()
    return [
        (str(u), f'{{"event_id": {i}, "user_id": {u}, "value": {v}, "ts": "{stamp}"}}'.encode())
        for i, (u, v) in enumerate(zip(users.tolist(), values.tolist()))
    ]
