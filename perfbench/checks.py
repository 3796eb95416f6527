"""Output checks against DuckDB.

Spark results and DuckDB results are compared as multisets of rows, matched
by column name. Rows are ordered by a key that rounds floats, then compared
value by value: integers and strings exactly, floats to 1e-9 relative. A
caller that knows a column can hold a rounding tie the two engines break
differently passes a ``tie`` test that may accept that one pair of values.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import duckdb


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def _key(v):
    if v is None:
        return (0, 0)
    if isinstance(v, (bool, int, float)):
        return (1, round(float(v), 4))
    if isinstance(v, str):
        return (2, v)
    if isinstance(v, (dt.date, dt.datetime)):
        return (3, v.isoformat())
    return (4, repr(v))


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def avg_rounding_tie(cents: int, n: int, a: float, b: float) -> bool:
    """True when the average of ``n`` values of two decimals that sum to
    ``cents`` hundredths lies exactly on a .5 tie in the 4th decimal, and
    ``a`` and ``b`` are that tie's two neighbours at 4 decimals."""
    twice = 200 * cents   # 2 * 10^4 * n * average: odd times n on a tie
    if twice % n or twice // n % 2 == 0:
        return False
    lo = twice // n // 2
    return {round(a * 1e4), round(b * 1e4)} == {lo, lo + 1}


def rows_match(cols_a, rows_a, cols_b, rows_b, tie=None) -> str | None:
    """None when the two results hold the same rows, else a reason.
    ``tie(col, row_a, row_b)``, with the rows as dicts by lower-case column
    name, may accept a value pair of column ``col`` that differs."""
    la = [c.lower() for c in cols_a]
    lb = [c.lower() for c in cols_b]
    if sorted(la) != sorted(lb):
        return f"columns differ: {la} vs {lb}"
    idx = [lb.index(c) for c in la]
    a = sorted((tuple(_norm(v) for v in r) for r in rows_a),
               key=lambda r: tuple(map(_key, r)))
    b = sorted((tuple(_norm(r[i]) for i in idx) for r in rows_b),
               key=lambda r: tuple(map(_key, r)))
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    for ra, rb in zip(a, b):
        for c, x, y in zip(la, ra, rb):
            if not _same(x, y) and not (
                    tie and tie(c, dict(zip(la, ra)), dict(zip(la, rb)))):
                return f"first differing row: {ra} vs {rb}"
    return None


class Oracle:
    """An in-memory DuckDB database holding views over generated parquet
    files and any tables a workload mirrors its writes into."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET TimeZone = 'UTC'")

    def view(self, name: str, parquet: str) -> None:
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{parquet}')")

    def query(self, sql: str, params=None):
        cur = self.con.execute(sql, params or [])
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()

    def close(self) -> None:
        self.con.close()
