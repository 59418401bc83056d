"""Seeded synthetic batch tables in the shape of the registry's fixtures.

The registry's queries read ten parquet tables (a TPC-H-like star
schema, an ``events`` table, ``documents`` and ``embeddings``). This
module writes them from a seed, one single-file parquet per table, with
the column types and value domains the queries filter and join on
(``c_mktsegment = 'BUILDING'``, ``event_type`` values, the document
vocabulary), and with the fixtures' shapes: 30-word documents of 10-99
words, 5% of them another document plus the word ``dup``, and unit
embeddings with uniform labels and no cluster structure.
``fixture_stats.py`` compares the two.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "hot", "large", "small", "red", "green", "cold", "tiny"],
              ["ring", "bolt", "anvil", "widget", "gear", "spring", "valve", "nut"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ("a the batch part spark line column order small sort fast value "
         "scan hash slow group agg filter query big key window row table "
         "stream merge data customer join vector").split()
EMBED_DIM = 64
TABLE_NAMES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")

_DAY_US = 86_400 * 1_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array((start + offsets_us).astype("datetime64[us]"))


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate: another document plus one word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    vecs = rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def build_tables(seed: int, sf: float) -> dict[str, dict]:
    """Column dicts for every table at scale factor ``sf`` (sf 1 has
    6M lineitem rows, like the fixtures it imitates)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(50, int(15_000 * sf))
    pick = lambda values, n: pa.array([values[j] for j in rng.integers(0, len(values), n)])  # noqa: E731
    days = lambda lo, hi, n: rng.integers(lo, hi, n) * _DAY_US  # noqa: E731
    return {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(REGIONS)},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))},
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, n_cust))),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, n_supp))),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{PART_WORDS[0][a]} {PART_WORDS[1][b]}" for a, b in
                                rng.integers(0, len(PART_WORDS[0]), (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
            "p_type": pick(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(_round2(900 + (np.arange(n_part) % 1000) / 10)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_round2(rng.uniform(1000, 500_000, n_ord))),
            "o_orderdate": _ts("1995-01-01", days(0, 2404, n_ord)),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_round2(rng.uniform(900, 105_000, n_line))),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": _ts("1995-01-02", days(0, 2498, n_line)),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": pick(EVENT_TYPES, n_ev),
            "value": pa.array(_round2(rng.exponential(50.0, n_ev))),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]),
        },
        "documents": _documents(rng, int(50_000 * sf)),
        "embeddings": _embeddings(rng, int(50_000 * sf)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in build_tables(seed, sf).items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
