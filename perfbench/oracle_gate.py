"""Correctness gate: every collected result against the DuckDB oracle.

Follows ``data_etl_pipeline_spark.oracle.compare_query``'s rules (same
lower-cased column-name sets, same row count, same rows after its
``_canon`` normalisation); a query without oracle SQL only has to return.
Runs after the timed region.  DuckDB gets ``threads`` threads in all and
each oracle query runs on its own ``cursor()``.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import duckdb

from data_etl_pipeline_spark.oracle import _canon
from data_etl_pipeline_spark.tables import TABLES


def connect(in_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    """DuckDB over the input dir; a table may be one file or a directory
    of part files."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for name in TABLES:
        path = os.path.join(in_dir, f"{name}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def answers(con: duckdb.DuckDBPyConnection, sql_by_query: dict[str, str | None], threads: int) -> dict:
    """``{query: (columns, canonical rows) or None}``; None means the query
    has no oracle SQL."""

    def one(sql: str):
        cur = con.cursor()
        try:
            rel = cur.sql(sql)
            cols = [c.lower() for c in rel.columns]
            return cols, _canon(rel.fetchall(), cols)
        finally:
            cur.close()

    out: dict = {name: None for name, sql in sql_by_query.items() if sql is None}
    todo = {name: sql for name, sql in sql_by_query.items() if sql is not None}
    with ThreadPoolExecutor(max_workers=max(1, min(threads, len(todo) or 1))) as pool:
        futures = {name: pool.submit(one, sql) for name, sql in todo.items()}
        for name, fut in futures.items():
            out[name] = fut.result()
    return out


def check(cols: list[str], rows: list[tuple], expected) -> str:
    """``match`` or the first rule the result breaks."""
    if expected is None:
        return "match"
    d_cols, d_canon = expected
    if sorted(cols) != sorted(d_cols):
        return "schema_mismatch"
    if len(rows) != len(d_canon):
        return "rowcount_mismatch"
    if _canon(rows, cols) != d_canon:
        return "value_mismatch"
    return "match"
