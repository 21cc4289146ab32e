"""Seeded generator of the catalog's input tables.

The catalog keys read ``<dir>/<table>.parquet`` for the ten tables of
``sources.lake.TPCH_TABLES``: a TPC-H-shaped star schema, an ``events``
stream, a ``documents`` corpus with planted near-duplicates and an
``embeddings`` table.  This module writes all ten with the column names,
parquet types and value shapes the keys and their DuckDB oracles expect,
as a pure function of (seed, scale): the same arguments give the same
rows.  ``scale`` 1.0 is about 15k orders and 60k line items.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = (("en", 0.43), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.13))
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_COLOURS = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_THINGS = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_TS = pa.timestamp("us")  # isAdjustedToUTC=false, as the keys' oracles assume


def _days(rng: np.random.Generator, n: int, lo: str, span: int) -> np.ndarray:
    return np.datetime64(lo, "us") + rng.integers(0, span, size=n).astype(
        "timedelta64[D]"
    )


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_line = int(15000 * scale), int(60000 * scale)
    n_ev, n_users, n_docs = int(10000 * scale), int(150 * scale), int(500 * scale)
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))  # noqa: E731
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": i64(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": i64(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": i64(n_part),
            "p_name": [
                f"{_COLOURS[a]} {_THINGS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": i64(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2405), _TS),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2499), _TS),
        }
    )
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    out["events"] = pa.table(
        {
            "event_id": i64(n_ev),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"), _TS),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = pa.table(_documents(rng, n_docs))
    vec = rng.normal(size=(n_docs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": i64(n_docs),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
        }
    )
    return out


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random-word documents; one in twenty repeats an earlier document
    with `` dup`` appended, under another language and source."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(10, 100))]
            texts.append(" ".join(words.tolist()))
    langs, p = zip(*_LANGS)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(langs)[rng.choice(len(langs), n, p=np.array(p) / sum(p))],
        "source": [f"src{rng.integers(0, 20)}" for _ in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write(directory: str, seed: int, scale: float = 1.0) -> None:
    """Write every table as ``<directory>/<name>.parquet``."""
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
