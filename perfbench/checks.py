"""Correctness checks on the outputs a workload pass wrote.

Run outside the timed region, over the parquet files the sinks wrote and
with DuckDB as an engine independent of Spark:

* ``oracle_check`` hash-compares an output with its ``oracle_sql()``
  query the way ``scripts/check_oracles.py`` does: column names sorted,
  floats rounded to 4 dp, rows compared as a sorted multiset.
* ``topk_recall`` recomputes the exact answer of the approximate
  ``ann_pq_topk`` with NumPy and returns the recall that its companion
  gate query ``ann_pq_recall`` holds to a floor.
"""
from __future__ import annotations

import decimal
import math
import os

import duckdb
import numpy as np

from .fixture import TABLES


def connect(fixture_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit='1GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture_dir}/{t}.parquet')")
    return con


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 4)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 4)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def normalize(rows, columns) -> list:
    """Rows as a sorted list of tuples with columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def read_output(con, path: str, columns=None):
    """(rows, column names) of a parquet directory a sink wrote."""
    sel = ", ".join(columns) if columns else "*"
    cur = con.execute(f"SELECT {sel} FROM read_parquet('{path}/*.parquet')")
    return cur.fetchall(), [d[0] for d in cur.description]


def count_rows(con, path: str) -> int:
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]


def oracle_check(con, path: str, oracle_sql: str) -> str | None:
    """None when the output equals the oracle, else a one-line reason."""
    rows, cols = read_output(con, path)
    cur = con.execute(oracle_sql)
    orows, ocols = cur.fetchall(), [d[0] for d in cur.description]
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    a, b = normalize(rows, cols), normalize(orows, ocols)
    if a != b:
        bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"value mismatch at sorted row {bad}: {a[bad]} vs {b[bad]}"
    return None


def _unit_vectors(con):
    rows = con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    return ids, x / np.where(norms > 0, norms, 1.0)[:, None]


def topk_recall(con, path: str, queries: int, k: int) -> float:
    """Share of the exact cosine top-``k`` neighbours (self excluded,
    scores rounded to 4 dp, ties by id) of the vectors with
    ``vec_id < queries`` present in a (query_id, neighbor_id) output."""
    ids, x = _unit_vectors(con)
    exact = set()
    for i in np.nonzero(ids < queries)[0]:
        score = np.round(x @ x[i], 4)
        order = [j for j in np.lexsort((ids, -score)) if j != i][:k]
        exact.update((int(ids[i]), int(ids[j])) for j in order)
    got = set(con.execute(
        f"SELECT query_id, neighbor_id FROM "
        f"read_parquet('{path}/*.parquet')").fetchall())
    return len(exact & got) / len(exact)


def files_in(path: str) -> int:
    """Data files a sink wrote under ``path`` (parquet part files)."""
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n
