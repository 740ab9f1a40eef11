"""Output checks. They run outside the timed region of every run; any
error fails all of that run's operations.

- CDC state: the table's final ``LakeTable.read()`` must equal a DuckDB
  latest-wins over the very parquet files the engine consumed, row for
  row: one winner per (repo, path) by (commit_seq, event_seq, event_id),
  delete winners dropped, ``sha256(content)`` and every promoted ``p_*``
  property equal.
- Stores: a batch of copies of stored rows (ids shifted) must pair every
  copy with its original at jaccard 1.0, and a copied vector's top hit must
  score 1.0.
- Queries: each result must match its DuckDB oracle twin under the
  comparison of ``tools/check_oracle.py`` (sorted columns,
  order-insensitive rows, floats to 1e-9).
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd

from tools.check_oracle import compare, norm

QUERY_TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")
STATE_COLS = ["repo", "path", "commit", "lang", "commit_seq", "event_seq", "event_id", "content_sha"]


def cdc_oracle_state(parquet_files: list[str], prop_keys: list[str]) -> pd.DataFrame:
    """Latest-wins final state of the change events in ``parquet_files``."""
    props = "".join(
        f", json_extract_string(props, '$.{k}') AS p_{k}" for k in prop_keys
    )
    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            SELECT repo, path, "commit", lang, commit_seq, event_seq, event_id,
                   sha256(content) AS content_sha{props}
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY repo, path
                ORDER BY commit_seq DESC, event_seq DESC, event_id DESC) AS rn
              FROM read_parquet(?)
            ) WHERE rn = 1 AND op <> 'D'
            """,
            [parquet_files],
        ).fetchdf()
    finally:
        con.close()


def distinct_keys(parquet_file: str) -> int:
    """Distinct (repo, path) keys among the change events of one file."""
    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT count(DISTINCT (repo, path)) FROM read_parquet(?)", [parquet_file]
        ).fetchone()[0]
    finally:
        con.close()


def frames_match(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Errors (empty when equal) between two frames, order-insensitive.

    Equal frames are confirmed with one vectorized comparison; the
    per-cell ``check_oracle.compare`` runs only to describe a mismatch.
    """
    if sorted(got.columns) == sorted(want.columns) and len(got) == len(want):
        g, w = norm(got.copy()), norm(want.copy())
        if all(
            ((g[c] == w[c]) | (g[c].isna() & w[c].isna())).all() for c in g.columns
        ):
            return []
    return compare(name, got, want) or [f"{name}: frames differ"]


def cdc_state_errors(engine_state: pd.DataFrame, parquet_files: list[str]) -> list[str]:
    prop_keys = sorted(c[2:] for c in engine_state.columns if c.startswith("p_"))
    want = cdc_oracle_state(parquet_files, prop_keys)
    cols = STATE_COLS + [f"p_{k}" for k in prop_keys]
    return frames_match("cdc_state", engine_state[cols], want[cols])


def pair_errors(pairs: list[tuple[int, int, float]], copies: dict[int, int]) -> list[str]:
    """``copies`` maps copy id -> original id; each must be a 1.0 pair."""
    found = {(min(a, b), max(a, b)): j for a, b, j in pairs}
    errs = []
    for copy_id, orig in sorted(copies.items()):
        j = found.get((min(orig, copy_id), max(orig, copy_id)))
        if j != 1.0:
            errs.append(f"dedup: copy {copy_id} of {orig} paired at {j}")
    return errs


def topk_errors(rows: list[tuple[int, int, float, int]], query_ids: list[int]) -> list[str]:
    """Rows are (query_id, neighbor_id, cos_r, rnk); each query's rank-1
    neighbor must score 1.0 (its original is stored)."""
    top = {q: c for q, _, c, r in rows if r == 1}
    return [
        f"ann: copy {q} top hit scored {top.get(q)}" for q in query_ids if top.get(q) != 1.0
    ]


def oracle_answer(oracle_sql: str, table_dir: str, cache_dir: str) -> pd.DataFrame:
    """DuckDB's answer to ``oracle_sql`` over the query tables.

    The answer is a pure function of the SQL text, the table bytes and the
    DuckDB version, so it is cached under that key: the tables are fixed,
    and one oracle (embedding_neardup_lsh) takes ~20 s to evaluate.
    """
    key = hashlib.sha256((oracle_sql + duckdb.__version__).encode())
    for t in QUERY_TABLES:
        with open(os.path.join(table_dir, f"{t}.parquet"), "rb") as fh:
            key.update(hashlib.sha256(fh.read()).digest())
    path = os.path.join(cache_dir, key.hexdigest() + ".parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    con = duckdb.connect()
    try:
        for t in QUERY_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')"
            )
        want = con.execute(oracle_sql).fetchdf()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    want.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return want


def query_errors(
    name: str, got: pd.DataFrame, oracle_sql: str, table_dir: str, cache_dir: str
) -> list[str]:
    want = oracle_answer(oracle_sql, table_dir, cache_dir)
    return [f"{name}: {e}" for e in compare(name, got, want)]
