"""Output checks.  They run outside the timed window; a failed check
counts as a failed request.

Registered ops are compared with their DuckDB oracle the way the engine's
differential tests do it (tests/utils.py): same column names, same row
count, and the same multiset of rows once floats are normalized to
``f"{v:.9g}"`` and timestamps to ISO strings.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{(0.0 if v == 0.0 else v):.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def _row_key(row: tuple) -> tuple:
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def canonical(columns: list, rows: list) -> tuple:
    """Order-insensitive canonical form of a result: (sorted column names,
    sorted normalized rows with columns in that order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return tuple(sorted(columns)), sorted(norm, key=_row_key)


def digest(canon: tuple) -> str:
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def oracle_connection(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple:
    rel = con.sql(sql)
    cols = list(rel.columns)
    rows = rel.fetchall()
    return digest(canonical(cols, rows)), len(rows)


def mismatch(expected: tuple, columns: list, rows: list) -> "str | None":
    """None when ``rows`` matches the expected (digest, n_rows); else why."""
    want, n = expected
    if len(rows) != n:
        return f"row count {len(rows)} != oracle {n}"
    if digest(canonical(columns, [tuple(r) for r in rows])) != want:
        return "values differ from the oracle"
    return None
