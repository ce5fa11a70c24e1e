"""Output checks: engine rows against DuckDB restatements.

Rows are compared as multisets. Floats match when they differ by at
most ``ABS_TOL + REL_TOL * |expected|``: the engine rounds aggregates
to 4 decimals, so two correct answers can differ by one unit in the
last place at a half-way boundary, while a wrong answer (a missing
partial, a stale store) is off by whole values.
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb

ABS_TOL = 1.5e-4
REL_TOL = 1e-6


def connect(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table of ``sf_dir``
    (a table may be a single file or a directory of part files)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        src = Path(sf_dir) / f"{t}.parquet"
        glob = f"{src}/*.parquet" if src.is_dir() else str(src)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{glob}'")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "as_integer_ratio") and not isinstance(v, (int, float)):
        return float(v)  # Decimal
    return v


def _key(row: tuple) -> tuple:
    return tuple((v is None, round(v, 2) if isinstance(v, float) else v) for v in row)


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        return abs(float(a) - float(b)) <= ABS_TOL + REL_TOL * abs(float(b))
    return a == b


def mismatch(got: list[tuple], want: list[tuple]) -> str | None:
    """None when the row multisets agree; otherwise a short reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    g = sorted((tuple(_norm(v) for v in r) for r in got), key=_key)
    w = sorted((tuple(_norm(v) for v in r) for r in want), key=_key)
    for a, b in zip(g, w):
        if len(a) != len(b) or not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {a} != expected {b}"
    return None
