"""Seeded synthetic tables in the engine's testdata layout.

Writes ``<out_dir>/<table>.parquet`` for every table in
``weather_etl_spark.io.TABLES`` with the schemas, key ranges and value
domains of the engine's TPC-H-ish / events / documents testdata
(FIXTURES.md), scaled linearly by ``sf``.  The same ``(seed, sf)``
always gives byte-identical inputs, so a benchmark run is reproducible
from its seed alone and never depends on files outside the checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01 00:00:00
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_WEIGHTS = (0.14, 0.41, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _days_us(rng: np.random.Generator, n: int, first_day: int, n_days: int) -> pa.Array:
    days = rng.integers(first_day, first_day + n_days, n)
    return pa.array(_EPOCH_1995_US + days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # Exact copies (exact-dedup fixtures) and "<other doc> dup" near
    # copies (similarity-dedup fixtures), at the testdata's rates.
    for i in rng.choice(n, size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _choice(rng, LANGS, n, p=LANG_WEIGHTS),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every testdata table at scale ``sf`` from one seeded generator."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    part_keys = np.arange(n_part, dtype=np.int64)
    event_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(part_keys),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ],
                    pa.string(),
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
                ),
                "p_type": _choice(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
                "p_retailprice": pa.array(np.round(900 + (part_keys % 1000) * 0.1, 1)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
                "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": _days_us(rng, n_ord, 0, 2404),
                "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _choice(rng, ("F", "O"), n_line),
                "l_shipdate": _days_us(rng, n_line, 1, 2499),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                "ts": pa.array(_EPOCH_2024_US + event_us, pa.timestamp("us")),
                "user_id": pa.array(
                    rng.integers(0, max(1, n_ev // 66), n_ev, dtype=np.int64)
                ),
                "event_type": _choice(rng, EVENT_TYPES, n_ev),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
                ),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir``; return row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
