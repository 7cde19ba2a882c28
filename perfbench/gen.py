"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's queries read (``region`` ... ``embeddings``,
the schemas in FIXTURES.md section A, timestamp precisions included) as
single parquet files, with the shapes of the TPC-H-ish synthetic testdata:
the same key ranges, the same low-cardinality vocabularies, a 5%
near-duplicate document tail (an earlier document's text plus `` dup``) and
unit-norm 64-d embeddings. ``scale=1`` gives the sf0.01 row counts;
``scale=0.1`` gives sf0.001.

The same ``seed`` and ``scale`` always give byte-identical tables. Row counts
are checked from the parquet footers after writing, so a short write fails
here instead of inside a query.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "small", "large", "old", "new"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]

EMBED_DIM = 64
US_PER_DAY = 86_400_000_000
ORDER_EPOCH_US = 788_918_400_000_000   # 1995-01-01
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01


def row_counts(scale: float) -> dict[str, int]:
    def n(base: int) -> int:
        return max(1, int(round(base * scale)))
    return {
        "region": 5, "nation": 25,
        "supplier": n(100), "customer": n(1500), "part": n(2000),
        "orders": n(15000), "lineitem": n(60000), "events": n(10000),
        # the corpus tables keep the testdata's 500-row floor at every
        # small scale factor
        "documents": max(500, n(500)), "embeddings": max(500, n(500)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(epoch_us: int, offsets_us: np.ndarray, unit: str) -> pa.Array:
    """Timestamps stored at ``unit`` ("ms" or "ns") precision, as FIXTURES.md
    section A gives them: ``events.ts`` is TIMESTAMP(ns), the order and ship
    dates TIMESTAMP(ms). The engine reads ns timestamps as raw int64
    nanoseconds (``spark.sql.legacy.parquet.nanosAsLong``), so the unit
    picks its input path."""
    us = epoch_us + offsets_us
    return pa.array(us // 1000 if unit == "ms" else us * 1000,
                    type=pa.timestamp(unit))


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    rc = row_counts(scale)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = rc["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})

    n = rc["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n).tolist()})

    n = rc["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n),
                                              rng.choice(PART_NOUN, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)})

    n_orders = rc["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, rc["customer"], n_orders),
                              pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(ORDER_EPOCH_US,
                           rng.integers(0, 2400, n_orders) * US_PER_DAY, "ms"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders).tolist()})

    n = rc["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, rc["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, rc["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": _ts(ORDER_EPOCH_US + US_PER_DAY,
                          rng.integers(0, 2500, n) * US_PER_DAY, "ms")})

    n = rc["events"]
    offsets = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(EVENT_EPOCH_US, offsets, "ns"),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = rc["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})

    n = rc["embeddings"]
    vec = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return t


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts
    read back from the footers. Raises if any count differs from the plan."""
    os.makedirs(out_dir, exist_ok=True)
    want = row_counts(scale)
    for name, tbl in build_tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    got = {name: pq.ParquetFile(os.path.join(out_dir, f"{name}.parquet"))
           .metadata.num_rows for name in want}
    if got != want:
        raise RuntimeError(f"generated row counts {got} != planned {want}")
    return got

