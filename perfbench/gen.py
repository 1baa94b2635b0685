"""Seeded input generator for the benchmark.

Writes the engine's star schema (region nation customer supplier part
orders lineitem events documents embeddings) as parquet under one input
directory, in the shape of the engine's sf0.1 test tables: the same
column names, types and row counts, and the same value distributions
(uniform keys, TPC-H-like value domains, exponential event values, a
time-sorted event stream over thirty days, and a word-salad document
corpus of 10 to 99 words from a 30-word vocabulary in which one
document in twenty is another document plus the word "dup").  The
documents table is split into ``DOC_FILES`` parquet files, the way a
lake holds a table; every other table is one file.

The same seed always gives byte-identical files, so ``input_digest``
identifies an input set.  Only numpy and pyarrow are used: no Spark
session is needed to build inputs.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMBED_DIM = 64

SCALE = 0.1  # 1.0 would be 6M lineitem rows; 0.1 matches the sf0.1 tables
DOC_FILES = max(4, len(os.sched_getaffinity(0)))  # at least one scan split per core

_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days_ts(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    lo_us, hi_us = _epoch_us(*lo), _epoch_us(*hi)
    days = rng.integers(0, (hi_us - lo_us) // _DAY_US + 1, n)
    return pa.array(lo_us + days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    """One file at ``path`` or, for ``files`` > 1, a directory of part files
    at ``path`` (how a lake holds a table)."""
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), os.path.join(path, f"part-{i:05d}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` documents of 10 to 99 words; then one document in twenty is
    replaced by another document's text plus " dup" (a near-duplicate,
    which may itself be copied again)."""
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]) for _ in range(n)]
    for i in np.sort(rng.choice(n, n // 20, replace=False)):
        texts[i] = texts[(i + int(rng.integers(1, n))) % n] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def generate(out_dir: str, seed: int) -> None:
    """Write every table at ``SCALE`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SCALE), int(10_000 * SCALE), int(200_000 * SCALE)
    n_ord, n_line, n_evt = int(1_500_000 * SCALE), int(6_000_000 * SCALE), int(1_000_000 * SCALE)
    n_users, n_docs, n_emb = int(15_000 * SCALE), int(50_000 * SCALE), int(20_000 * SCALE)

    def path(name: str) -> str:
        return os.path.join(out_dir, f"{name}.parquet")

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}), path("region"))
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        path("nation"),
    )
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        path("customer"),
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        path("supplier"),
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": _pick(rng, names, n_part),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        path("part"),
    )
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
                "o_orderdate": _days_ts(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        path("orders"),
    )
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _days_ts(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
            }
        ),
        path("lineitem"),
    )
    # Sorted uniform times over thirty days from 2024-01-01; adding the row
    # number keeps them strictly increasing (no ties).
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt)) + np.arange(n_evt)
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_evt), pa.int64()),
                "ts": pa.array(_epoch_us(2024, 1, 1) + ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, n_evt),
                "value": np.round(rng.exponential(50.0, n_evt), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
            }
        ),
        path("events"),
    )
    _write(_documents(rng, n_docs), path("documents"), DOC_FILES)
    vec = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb), pa.int64()),
                "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
            }
        ),
        path("embeddings"),
    )


def input_digest(in_dir: str) -> str:
    """SHA-256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(in_dir):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, in_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
