"""Deterministic operator-suite tables, written inside the benchmark's work dir.

The suite keys read ``<sf_dir>/<name>.parquet`` for the TPC-H-ish star
schema plus ``events``, ``documents`` and ``embeddings``. These tables
have the same column names, types and value ranges as the repo's sf0.01
test tables (lineitem 60k rows), generated from a fixed seed with numpy
and pyarrow, so the benchmark needs no data from outside its checkout
and the suite fingerprints in ``suite_fingerprints.json`` stay valid.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table (sf0.01 shape; embeddings and documents as in sf0.01)
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}
SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_ADJ = ["blue", "small", "red", "hot", "old", "big", "green", "cold"]
_P_NOUN = ["anvil", "widget", "plate", "ring", "rod", "bolt", "gear", "pipe"]
_P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = ("a the dup key agg row scan slow fast table value part hash merge "
          "batch spark line sort window order data column join small big "
          "customer query stream group filter vector").split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400_000_000


def _micros(t: dt.datetime) -> int:
    return (t - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng, base: dt.datetime, n: int, span_days: int) -> pa.Array:
    """Naive (UTC-less) day timestamps, base + uniform 0..span_days days."""
    d = rng.integers(0, span_days + 1, n).astype(np.int64) * _DAY_US
    return pa.array(_micros(base) + d, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int = SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]).tolist()}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])}),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(_P_ADJ, n["part"]), rng.choice(_P_NOUN, n["part"]))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(_P_TYPES, n["part"]).tolist(),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900.0, 999.9, n["part"]), 1)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), n["orders"], 2404),
            "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]).tolist()}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n["lineitem"]).tolist(),
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), n["lineitem"], 2498)}),
    }
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne)) + _micros(dt.datetime(2024, 1, 1))
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 150, ne),
        "event_type": rng.choice(_EVENT_TYPES, ne).tolist(),
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = [" ".join(rng.choice(_WORDS, int(k)))
             for k in rng.integers(8, 100, nd)]
    # 5% near-duplicates (another doc's text + " dup"), as in the test
    # tables: the dedup and decontamination keys need pairs to find
    for i, j in zip(rng.choice(nd, nd // 20, replace=False), rng.integers(0, nd, nd // 20)):
        texts[i] = texts[j] + " dup"
    tables["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return tables


def write_tables(out_dir: str, seed: int = SEED) -> int:
    """Write every table as one single-row-group parquet file; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in build_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
