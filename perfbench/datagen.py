"""Seeded input generator: the benchmark's only source of data.

Writes the ten tables the engine reads (``{dir}/{table}.parquet``) with
the same column names and Arrow types as the engine's test fixtures, at a
chosen scale factor. The same (seed, sf) always gives the same bytes, so
two runs with one seed feed the engine identical inputs.

``slice_by_time`` cuts a table into event-time-ordered slices for the
realtime replay: slice k holds only rows whose event time is at or after
every row of slice k-1, which the 0-second watermarks of the stateful
streaming apps require.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
_EMBED_DIM = 64


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (TPC-H-like ratios)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(int(150_000 * sf), 50),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 100),
        "orders": max(int(1_500_000 * sf), 500),
        "events": max(int(1_000_000 * sf), 500),
        "documents": max(int(50_000 * sf), 300),
        "embeddings": max(int(20_000 * sf), 300),
    }


def _ts_us(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array((days_from_epoch * 86_400_000_000).astype("int64"), pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, fully determined by (seed, sf)."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    out: dict[str, pa.Table] = {}
    i32 = pa.int32()

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    retail = np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(np_, dtype="int64"),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), i32),
            "p_retailprice": retail,
        }
    )

    no = n["orders"]
    # order dates 1995-01-01 .. 2001-08-01, whole days (epoch days)
    d0, d1 = 9131, 11535
    odate = rng.integers(d0, d1 + 1, no)
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no).astype("int64"),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts_us(odate),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    lines = rng.integers(1, 8, no)
    lk = np.repeat(np.arange(no, dtype="int64"), lines)
    nl = len(lk)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    qty = rng.integers(1, 51, nl).astype("float64")
    pk = rng.integers(0, np_, nl).astype("int64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": lk,
            "l_partkey": pk,
            "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
            "l_linenumber": pa.array(lnum, i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[pk], 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts_us(np.repeat(odate, lines) + rng.integers(1, 122, nl)),
        }
    )

    ne = n["events"]
    # 30 days of events from 2024-01-01, strictly increasing timestamps
    start_us = 19723 * 86_400_000_000
    gaps = rng.exponential(1.0, ne)
    ts = start_us + np.floor(np.cumsum(gaps) / gaps.sum() * (30 * 86_400_000_000 - 1)).astype(
        "int64"
    )
    ts = np.maximum.accumulate(ts + np.arange(ne))  # strictly increasing
    n_users = max(int(15_000 * sf), 50)
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype="int64"),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, ne).astype("int64"),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(np.minimum(rng.exponential(40.0, ne) + 0.01, 500.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )

    nd = n["documents"]
    texts: list[str] = []
    vocab = np.array(_VOCAB)
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.002:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:  # near-duplicate: one appended token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype="int64"),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
            "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, _EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 0.6, (nv, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def slice_by_time(table: pa.Table, ts_col: str, bounds: np.ndarray) -> list[pa.Table]:
    """Cut ``table`` into ``len(bounds) - 1`` slices on event time:
    slice k holds rows with ``bounds[k] <= ts < bounds[k+1]`` (the last
    slice also keeps ``ts == bounds[-1]``), each sorted by time."""
    ts = table.column(ts_col).cast(pa.int64()).to_numpy()
    order = np.argsort(ts, kind="stable")
    ts_sorted = ts[order]
    cuts = np.searchsorted(ts_sorted, bounds, side="left")
    cuts[-1] = len(ts_sorted)
    return [table.take(order[cuts[k] : cuts[k + 1]]) for k in range(len(bounds) - 1)]


def time_bounds(tables: list[pa.Table], cols: list[str], n_slices: int) -> np.ndarray:
    """``n_slices + 1`` shared event-time cut points spanning every
    table's range, so same-index slices of different tables cover the
    same event-time interval (the interval join's sides stay aligned)."""
    lo = min(t.column(c).cast(pa.int64()).to_numpy().min() for t, c in zip(tables, cols))
    hi = max(t.column(c).cast(pa.int64()).to_numpy().max() for t, c in zip(tables, cols))
    return np.linspace(lo, hi + 1, n_slices + 1).astype("int64")
