"""Seeded synthetic inputs for the benchmark.

``write_tables(out_dir, sf, seed)`` writes the ten source tables the query
registry reads (``region nation customer supplier part orders lineitem
events documents embeddings``, one parquet file each) with the column names,
types and value domains of the TPC-H-like test tables. Row counts follow the
scale factor the same way: lineitem ~6M x sf, orders 1.5M x sf, and so on.

The same (sf, seed) always gives byte-identical values, so a run can be
repeated exactly. A different seed gives the same sizes and the same value
counts: every categorical column (and every small integer range) holds a
seeded permutation of one fixed multiset, so the rows a filter selects change
with the seed but how many do not, and no query flips between an empty and a
non-empty intermediate result from one seed to the next.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window",
]
EMBED_DIM = 64
EMBED_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _balanced(rng: np.random.Generator, values, n: int) -> np.ndarray:
    """``n`` values cycling through ``values``, in a seeded order."""
    return rng.permutation(np.resize(np.asarray(values), n))


def _docs(rng: np.random.Generator, n: int) -> dict:
    """Word-salad documents over a 31-word vocabulary, 45-580 characters.
    Every 50th document (from the 26th) repeats the one before it verbatim,
    so the exact- and near-duplicate paths have a fixed amount of work."""
    words = np.array(WORDS)
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 90))
        text = " ".join(words[rng.integers(0, len(words), k)])
        texts.append(text[:580])
    for i in range(25, n, 50):
        texts[i] = texts[i - 1]
    langs = np.repeat(LANGS, np.round(np.array(LANG_P) * n).astype(int))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(_balanced(rng, langs, n).tolist()),
        "source": pa.array([f"src{i}" for i in _balanced(rng, range(20), n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(_balanced(rng, range(EMBED_LABELS), n).astype(np.int32)),
    }


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = 5_000 if sf >= 0.1 else 500
    n_emb = 2_000 if sf >= 0.1 else 500

    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(_balanced(rng, range(25), n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(_balanced(rng, SEGMENTS, n_cust).tolist()),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(_balanced(rng, range(25), n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }
    pk = np.arange(n_part, dtype=np.int64)
    # size, type and brand are drawn jointly (one row permutation of a fixed
    # pattern), so combined predicates select a seed-independent count
    i = rng.permutation(n_part)
    t["part"] = {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            _balanced(rng, PART_ADJ, n_part), _balanced(rng, PART_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in i % 25 + 1]),
        "p_type": pa.array(np.resize(np.array(PART_TYPES), n_part)[i].tolist()),
        "p_size": pa.array((i % 50 + 1).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    }
    odate = _EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(_balanced(rng, ["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(_balanced(rng, PRIORITIES, n_ord).tolist()),
    }
    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    order = np.argsort(lok, kind="stable")
    # line numbers count up within each order, as in TPC-H
    first = np.r_[0, np.flatnonzero(np.diff(lok[order])) + 1]
    run_start = np.repeat(first, np.diff(np.r_[first, n_line]))
    linenumber = np.empty(n_line, dtype=np.int32)
    linenumber[order] = (np.arange(n_line) - run_start + 1).astype(np.int32)
    t["lineitem"] = {
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(_balanced(rng, range(1, 51), n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(_balanced(rng, range(11), n_line) / 100.0),
        "l_tax": pa.array(_balanced(rng, range(9), n_line) / 100.0),
        "l_returnflag": pa.array(_balanced(rng, ["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(_balanced(rng, ["F", "O"], n_line).tolist()),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_line) * _DAY_US),
    }
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024 + ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(_balanced(rng, EVENT_TYPES, n_ev).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    t["documents"] = _docs(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return {name: pa.table(cols) for name, cols in t.items()}


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
