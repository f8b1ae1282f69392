"""Answer checks, run outside every timed region.

Results are compared order-insensitively: the column names must match,
and the rows, sorted by a coarse key, must match value by value, with
floats equal to a relative tolerance of 1e-9 (the engine and DuckDB may
sum doubles in different orders).
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def sql_records(con, sql: str) -> list[dict]:
    rel = con.sql(sql)
    return [dict(zip(rel.columns, row)) for row in rel.fetchall()]


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):  # a DATE equals its midnight TIMESTAMP
        return datetime.datetime.combine(v, datetime.time()).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        return v.item()  # numpy scalar
    return v


def _sort_key(row: tuple) -> tuple:
    key = []
    for v in row:
        if v is None:
            key.append((0, ""))
        elif isinstance(v, float):
            key.append((1, f"{v:.6g}"))
        else:
            key.append((1, str(v)))
    return tuple(key)


def _same(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_same, a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, bool) != isinstance(b, bool):
            return False
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def diff(got: list[dict], want: list[dict]) -> str | None:
    """None when the record sets match, else a one-line reason."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if not got:
        return None
    cols_g, cols_w = sorted(got[0]), sorted(want[0])
    if cols_g != cols_w:
        return f"columns {cols_g} != {cols_w}"
    rows_g = sorted(
        (tuple(_norm(r[c]) for c in cols_g) for r in got), key=_sort_key
    )
    rows_w = sorted(
        (tuple(_norm(r[c]) for c in cols_w) for r in want), key=_sort_key
    )
    for g, w in zip(rows_g, rows_w):
        if not _same(g, w):
            return f"row {g} != {w}"
    return None


def spark_records(df) -> list[dict]:
    return [row.asDict(recursive=True) for row in df.collect()]
