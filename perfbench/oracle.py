"""Output verification: a query's Spark rows against its DuckDB oracle
over the same input files, or a deterministic row count where a query
has no oracle.

Comparison is order-insensitive: columns are matched by name, rows are
sorted on a canonical form, and floats compare with rel/abs 1e-6 (every
oracled query rounds its doubles to 2 or 6 places on both sides).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

from perfbench.datagen import TABLES, parquet_glob


class Mismatch(AssertionError):
    """A query's output disagrees with its oracle."""


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{parquet_glob(sf_dir, t)}')"
        )
    return con


def _cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "asDict"):  # a Spark Row nested in a struct column
        return _cell(v.asDict())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _cell(x)) for k, x in v.items()))
    return v


def _key(v):
    if isinstance(v, float):
        return (1, "f", round(v, 6))
    if isinstance(v, tuple):
        return (1, "t", tuple(_key(x) for x in v))
    return (v is not None, type(v).__name__, str(v))


def canonical(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(_key(x) for x in r))
    return [cols[i] for i in order], out


def _close(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
        isinstance(a, bool) or isinstance(b, bool)
    ):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def compare(cols: list[str], rows: list[tuple], con: duckdb.DuckDBPyConnection, sql: str) -> int:
    """Raise Mismatch unless ``rows`` equal the oracle's rows; return
    the row count."""
    cur = con.execute(sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    s_cols, s_norm = canonical(cols, rows)
    oc, o_norm = canonical(o_cols, o_rows)
    if s_cols != oc:
        raise Mismatch(f"columns differ: spark={s_cols} oracle={oc}")
    if len(s_norm) != len(o_norm):
        raise Mismatch(f"row count differs: spark={len(s_norm)} oracle={len(o_norm)}")
    bad = [(a, b) for a, b in zip(s_norm, o_norm) if not _close(a, b)]
    if bad:
        raise Mismatch(f"{len(bad)} rows differ; first: {bad[0]}")
    return len(rows)
