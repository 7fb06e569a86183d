"""Seeded generator for the registry queries' ten parquet tables.

The tables follow the shapes and value ranges of the engine's TPC-H-ish
test data (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings), so every registry query and its DuckDB
oracle run unchanged on them. Row counts scale with ``scale``:
``scale=0.1`` gives 600k lineitem rows.

Only numpy and pyarrow are used, so the data exists before any Spark
session starts and its cost is never counted in a timed phase.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("large", "hot", "blue", "old", "small", "cold", "red", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
EMBED_DIM = 64


def table_sizes(scale: float) -> dict[str, int]:
    """Row count per table at ``scale`` (TPC-H style: sf1 = 6M lineitem)."""
    def n(base: int) -> int:
        return max(1, int(round(base * scale)))

    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000),
        "embeddings": n(20_000),
    }


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _days(rng, start: str, end: str, size: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, size)).astype("datetime64[us]")


def _pick(rng, choices, size: int, p=None) -> np.ndarray:
    return np.asarray(choices, dtype=object)[
        rng.choice(len(choices), size=size, p=p)
    ]


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def _documents(rng, n: int) -> pa.Table:
    """Random-vocabulary texts of 10-100 words; ~5% are another
    document's text plus the token ``dup`` (near duplicates) and ~0.16%
    repeat another document exactly, the shares in the sf0.1 test
    data, so every dedup query has real candidates to find."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), lengths.sum())]
    texts, off = [], 0
    for ln in lengths:
        texts.append(" ".join(words[off:off + ln]))
        off += ln
    kind = rng.random(n)
    base = rng.integers(0, n, n)
    for i in range(n):
        b = int(base[i])
        if b == i or kind[b] < 0.0516:
            continue
        if kind[i] < 0.05:
            texts[i] = texts[b] + " dup"
        elif kind[i] < 0.0516:
            texts[i] = texts[b]
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pa.Table:
    """Isotropic unit vectors with a label drawn independently of them:
    in the sf0.1 test data the per-label mean vectors are no longer
    than sampling noise makes them."""
    label = rng.integers(0, 10, n).astype(np.int32)
    v = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label,
    })


def _events(rng, n: int, n_users: int) -> pa.Table:
    lo = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = lo + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables for (seed, scale), in memory."""
    rng = np.random.default_rng(seed)
    n = table_sizes(scale)
    nc, ns, np_, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"],
    )
    keys = np.arange
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": keys(5, dtype=np.int32),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": keys(25, dtype=np.int32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (keys(25) % 5).astype(np.int32),
    })
    t["customer"] = pa.table({
        "c_custkey": keys(nc, dtype=np.int64),
        "c_name": _keyed_names("Customer", nc),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    t["supplier"] = pa.table({
        "s_suppkey": keys(ns, dtype=np.int64),
        "s_name": _keyed_names("Supplier", ns),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    pk = keys(np_, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": keys(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": _pick(rng, ("O", "P", "F"), no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("O", "F"), nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    t["events"] = _events(rng, n["events"], max(1, nc // 10))
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_dataset(out_dir: str, seed: int, scale: float) -> None:
    """Write the ten tables for (seed, scale) as parquet under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
