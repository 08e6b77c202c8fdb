"""Seeded input tables for the query_suite workload.

The tables have the schemas and value laws of the repo's query fixtures
(FIXTURES.md part B) at the sf0.01 row counts: a TPC-H-shaped star schema,
an ``events`` stream and the ``documents``/``embeddings`` LLM-pipeline
tables. Every value is drawn from one numpy generator seeded by the
benchmark's ``--seed``, so the same seed writes the same parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a the join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big sort "
    "query fast"
).split()
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_EPOCH_2024_US = 1_704_067_200 * 1_000_000
_EVENT_USERS = 150
_EVENT_SPAN_US = 30 * _DAY_US
_EMB_DIM = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo: int, hi: int, n: int) -> pa.Array:
    d = rng.integers(lo, hi, n).astype(np.int64) * _DAY_US
    return pa.array(d, pa.timestamp("us"))


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lengths]
    # 5% near-duplicates: a copy of an earlier document with one or two
    # "dup" tokens appended, so the dedup operators find real pairs.
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        src = int(rng.integers(0, i))
        texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, _EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * _EMB_DIM + 1, _EMB_DIM), pa.int32()), flat
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng, n: int) -> pa.Table:
    gaps = rng.exponential(_EVENT_SPAN_US / n, n)
    ts = _EPOCH_2024_US + np.cumsum(gaps).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, _EVENT_USERS, n), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n).tolist(),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    nc, ns, npart, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": _keyed_names("Customer", nc),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": rng.choice(_SEGMENTS, nc).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": _keyed_names("Supplier", ns),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(_PART_ADJ, npart), rng.choice(_PART_NOUN, npart)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                "p_type": rng.choice(_PART_TYPES, npart).tolist(),
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": _days(rng, _EPOCH_1995, _EPOCH_1995 + 2404, no),
                "o_orderpriority": rng.choice(_PRIORITIES, no).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
                "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
                "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
                "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
                "l_shipdate": _days(rng, _EPOCH_1995 + 1, _EPOCH_1995 + 2500, nl),
            }
        ),
        "events": _events(rng, n["events"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
