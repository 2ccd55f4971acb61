"""Deterministic synthetic input tables for the benchmark.

Writes the eight TPC-H-shaped tables plus ``events``, ``documents`` and
``embeddings`` (one parquet file each) with the schemas and value domains
the engine's queries read: the same layout as the repository's sf0.001 /
sf0.01 / sf0.1 test data, at scale factor ``SF`` (lineitem holds
6,000,000 x ``SF`` rows).  The tables are byte-identical on every call, so
the golden fingerprints in ``golden.json`` stay valid.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the data seed the golden fingerprints were computed on; ``--seed`` of
#: the benchmark orders the queries, it never changes the tables
DATA_SEED = 42
#: the benchmark's input size (lineitem holds 6,000,000 x SF rows)
SF = 0.1

_WORDS = [
    "a", "the", "spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "batch", "part",
    "line", "order", "sort", "fast", "scan", "hash", "slow", "group", "agg",
    "query", "big", "key", "row", "customer", "index",
]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000


def _days(start: str, end: str) -> tuple[int, int]:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return int(lo), int(hi)


def _date_us(rng, start: str, end: str, n: int) -> pa.Array:
    lo, hi = _days(start, end)
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(choices)
    ).cast(pa.string())


def _documents(rng, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    words = rng.integers(0, len(_WORDS), int(n_words.sum()))
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [
        " ".join(_WORDS[w] for w in words[bounds[i]:bounds[i + 1]])
        for i in range(n)
    ]
    # near-duplicates (a copy of an earlier doc with one word replaced) and
    # a few exact duplicates, so the dedup/similarity families find pairs
    for i in rng.choice(np.arange(n // 2, n), n // 50, replace=False):
        toks = texts[int(rng.integers(0, n // 2))].split(" ")
        toks[int(rng.integers(0, len(toks)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        texts[i] = " ".join(toks)
    for i in rng.choice(np.arange(n // 2, n), max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))]
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables() -> dict[str, pa.Table]:
    """Build every table in memory at scale factor ``SF``."""
    sf = SF
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _date_us(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _date_us(rng, "1995-01-02", "2001-11-04", n_li),
    })
    lo, hi = _days("2024-01-01", "2024-01-31")
    ts = np.sort(rng.integers(lo * _DAY_US, hi * _DAY_US, n_ev, dtype=np.int64))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, max(1, int(50_000 * sf)))
    out["embeddings"] = _embeddings(rng, max(1, int(20_000 * sf)))
    return out


def write(out_dir: str) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
