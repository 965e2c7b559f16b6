"""Seeded synthetic tables for the analytics workload.

Writes the ten tables the ``analytics`` queries read (``region`` ...
``embeddings``, one parquet file each) with the schemas, value domains and
row-count scaling of the repository's sf fixtures: a TPC-H-like star
schema, an ``events`` stream, a small ``documents`` corpus over a 30-word
vocabulary in which about 5% of documents repeat an earlier one with a
" dup" suffix, and 64-d unit-norm ``embeddings`` weakly clustered by
``label``.  The same (seed, sf) always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EVENT_EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (the fixtures' scaling)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _days(rng: np.random.Generator, epoch_us: int, span_days: int, n: int) -> pa.Array:
    us = epoch_us + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    vecs = rng.normal(size=(n, EMB_DIM)) + 1.2 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    n_users = max(1, round(15_000 * sf))
    parts = n["part"]
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
                "c_name": _keyed_names("Customer", n["customer"]),
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
                "s_name": _keyed_names("Supplier", n["supplier"]),
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(parts), pa.int64()),
                "p_name": pa.array(
                    [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (parts, 2))],
                    pa.string(),
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, parts)], pa.string()),
                "p_type": _pick(rng, PART_TYPES, parts),
                "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n["orders"]),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
                "o_orderdate": _days(rng, _ORDER_EPOCH_US, 2405, n["orders"]),
                "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, parts, n["lineitem"]), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n["lineitem"]),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n["lineitem"]),
                "l_linestatus": _pick(rng, ("F", "O"), n["lineitem"]),
                "l_shipdate": _days(rng, _ORDER_EPOCH_US + _DAY_US, 2499, n["lineitem"]),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n["events"]), pa.int64()),
                "ts": pa.array(
                    np.sort(_EVENT_EPOCH_US + rng.integers(0, 30 * _DAY_US, n["events"])),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, n_users, n["events"]), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, n["events"]),
                "value": np.round(np.minimum(rng.exponential(50.0, n["events"]), 490.0) + 0.01, 2),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])], pa.string()
                ),
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return tables


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
