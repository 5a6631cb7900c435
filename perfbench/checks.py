"""Output checks: DuckDB oracles and order-insensitive row comparison."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

REL_TOL = 1e-6
ABS_TOL = 1e-6


def duck_connection(data_dir: str, tables):
    """In-memory DuckDB with one view per table, capped at nproc threads."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, int):
        return float(v)  # engines disagree on int widths, not on values
    return v


def _sort_key(row):
    out = []
    for v in row:
        if v is None:
            out.append((0, ""))
        elif isinstance(v, float):
            out.append((1, "nan" if math.isnan(v) else f"{v:.5e}"))
        else:
            out.append((2, str(v)))
    return out


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def compare_rows(cols, rows, oracle_cols, oracle_rows) -> tuple[bool, str]:
    """Same column set, same row count, and the same rows in any order
    (floats within a relative tolerance)."""
    if sorted(cols) != sorted(oracle_cols):
        return False, f"columns {sorted(cols)} vs {sorted(oracle_cols)}"
    if len(rows) != len(oracle_rows):
        return False, f"rows {len(rows)} vs {len(oracle_rows)}"
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    oorder = sorted(range(len(oracle_cols)), key=lambda i: oracle_cols[i])
    mine = sorted(([_norm(r[i]) for i in order] for r in rows), key=_sort_key)
    theirs = sorted(([_norm(r[i]) for i in oorder] for r in oracle_rows), key=_sort_key)
    for k, (a, b) in enumerate(zip(mine, theirs)):
        if not all(_same(x, y) for x, y in zip(a, b)):
            return False, f"sorted row {k}: {a} vs {b}"
    return True, f"{len(rows)} rows match"
