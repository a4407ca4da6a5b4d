"""Seeded input generation for the benchmark.

Writes the ten tables the engine's catalog reads (``region`` ...
``embeddings``) as one parquet file each, with the schemas, value ranges
and key relationships of the engine's synthetic test tables: a TPC-H-ish
star schema, a month of click events, a small-vocabulary document corpus
with planted near-duplicates, and unit-norm 64-d embeddings.

The table contents are drawn once from a fixed ``BASE_SEED``; the run's
seed permutes the rows of every table. Row order is an axis the engine's
correctness gate already proves invariant, so the expected answers do not
depend on the seed and are checked in as ``expected.json``. One seed
always yields byte-identical inputs. Row counts scale with ``sf`` the way
the test tables do (sf0.01: 60k lineitem, 10k events, 500 documents).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

BASE_SEED = 20_240_101
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    docs = 500 if sf <= 0.01 else int(50_000 * sf)
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
        "documents": docs,
        "embeddings": 500 if sf <= 0.01 else int(20_000 * sf),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    # ~5% near-duplicates: a copy of an earlier document with one token
    # swapped for the marker word, so the dedup and clustering operators
    # always have real work; one exact duplicate besides
    n_dup = max(2, n // 20)
    targets = rng.choice(np.arange(1, n), size=min(n_dup, n - 1), replace=False)
    for t in targets:
        words = texts[int(rng.integers(0, t))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[t] = " ".join(words)
    texts[-1] = texts[0]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.normal(size=(n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """A month of events in event-time order (event_id follows ts)."""
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
            "value": pa.array(_money(rng, 0.01, 500.0, n), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table at scale ``sf``, rows permuted by ``seed``."""
    rng = np.random.default_rng(seed)
    return {name: t.take(rng.permutation(t.num_rows)) for name, t in base_tables(sf).items()}


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The seed-independent table contents at scale ``sf``."""
    rng = np.random.default_rng(BASE_SEED)
    n = table_rows(sf)
    nc, ns, np_, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    parts = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(np_), pa.int64()),
                "p_name": pa.array(rng.choice(parts, np_)),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, np_)]),
                "p_type": pa.array(rng.choice(PART_TYPES, np_)),
                "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
                "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
                "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, nl) * _DAY_US),
            }
        ),
        "events": events_table(rng, n["events"], max(1, nc // 10)),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
