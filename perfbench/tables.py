"""Deterministic query tables for the query suite.

The 16 bench queries read six tables: ``lineitem``, ``orders``,
``customer``, ``events``, ``documents`` and ``embeddings``. They are
generated here with NumPy from a fixed seed, in the shapes of the
engine's synthetic test tables (TPC-H-ish star schema, an event stream,
a text corpus with near-duplicates, 64-d embeddings in clusters), so the
benchmark reads nothing outside its own checkout. The tables do not
depend on the workload seed: every run of the query suite reads the same
rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLE_SEED = 42
N_ORDERS = 8_000
N_CUSTOMERS = 1_500
N_EVENTS = 6_000
N_DOCS = 300
N_VECS = 300
DIM = 64

_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_FOREIGN = "el la de y que le et les des der die und das ein zu of to and is".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "es", "fr", "de", "zh"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span, n).astype("timedelta64[D]")


def _tpch(rng: np.random.Generator) -> dict[str, pd.DataFrame]:
    customer = pd.DataFrame({
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": _money(rng, -999, 9999, N_CUSTOMERS),
        "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMERS),
    })
    orderdate = _days(rng, "1992-01-01", 3500, N_ORDERS)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": orderdate,
        "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
    })
    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(orders["o_orderkey"].to_numpy(), lines)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": np.repeat(orderdate, lines)
        + rng.integers(1, 122, n).astype("timedelta64[D]"),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def _events(rng: np.random.Generator) -> pd.DataFrame:
    # 30 days of microsecond timestamps; ~12 h mean gap per user, so the
    # 6-hour session rule both splits and joins sessions
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    return pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 100, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, N_EVENTS),
        "value": _money(rng, 0, 500, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })


def _documents(rng: np.random.Generator) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.12:  # near duplicate: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), int(rng.integers(1, 4))):
                words[j] = "dup"
            texts.append(" ".join(words))
        else:
            vocab = _WORDS if rng.random() < 0.7 else _WORDS + _FOREIGN
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 101)))))
    return pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator) -> pd.DataFrame:
    centers = rng.normal(size=(8, DIM))
    label = rng.integers(0, 8, N_VECS)
    v = centers[label] + rng.normal(scale=1.5, size=(N_VECS, DIM))
    near = rng.random(N_VECS) < 0.05  # near duplicates of the previous vector
    for i in np.nonzero(near)[0]:
        if i > 0:
            v[i] = v[i - 1] + rng.normal(scale=0.01, size=DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": list(v),
        "label": label.astype(np.int32),
    })


def write_tables(out_dir: str) -> str:
    """Write the six tables as ``<out_dir>/<name>.parquet``; returns ``out_dir``."""
    rng = np.random.default_rng(TABLE_SEED)
    frames = _tpch(rng)
    frames["events"] = _events(rng)
    frames["documents"] = _documents(rng)
    frames["embeddings"] = _embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name, df in frames.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
