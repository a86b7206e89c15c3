"""Result normalisation and comparison for the output checks.

Results of both engines (Spark ``Row`` dicts, DuckDB tuples) are
normalised to plain Python values: Decimal -> float, dates and
timestamps -> ISO strings (timezone-aware ones in UTC), nested rows and
maps -> sorted tuples, bytes -> hex. Row sets are compared as sorted
lists of rows whose columns are ordered by lower-cased name, numbers
with a relative tolerance of 1e-9.

A query that rounds a floating-point result to d decimals can round a
value that sits exactly on a decimal rounding boundary differently on
two engines: Spark rounds a double's shortest decimal form half-up,
DuckDB rounds the double times 10^d. ``rounding_ties`` finds the values
where two results differ by exactly one unit of a column's last printed
decimal, and ``on_boundary`` accepts them only where the unrounded value
lies within float error of the midpoint between the two. It is used only
where two engines are compared; the checks of timed runs are exact.
"""

from __future__ import annotations

import datetime
import decimal
import math
from typing import Any

REL_TOL = 1e-9


def canonical(v: Any) -> Any:
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep="T")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), canonical(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return canonical(v.asDict(recursive=True))
    if isinstance(v, (list, tuple)):
        return tuple(canonical(x) for x in v)
    return str(v)


def _sort_key(v: Any) -> tuple:
    if v is None:
        return (0, "")
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return (1, float(f"{float(v):.6g}"))
    if isinstance(v, tuple):
        return (3, tuple(_sort_key(x) for x in v))
    return (2, str(v))


def row_set(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns ordered by lower-cased name, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    out = [tuple(canonical(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return out


def spark_rows(rows) -> list[tuple]:
    if not rows:
        return []
    columns = list(rows[0].asDict().keys())
    return row_set(columns, [tuple(r) for r in rows])


def _same(a: Any, b: Any) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _decimals(v: float) -> int | None:
    text = repr(v)
    return len(text.split(".")[1]) if "." in text and "e" not in text else None


def _last_decimal_units(rows: list[tuple]) -> list[float | None]:
    """Per column: one unit of the last decimal its floats are printed
    with, for a column of floats printed with 2 to 9 decimals."""
    units: list[float | None] = []
    for col in range(len(rows[0]) if rows else 0):
        floats = [r[col] for r in rows if isinstance(r[col], float)]
        decimals = [_decimals(v) for v in floats]
        if floats and None not in decimals and 2 <= max(decimals) <= 9:
            units.append(10.0 ** -max(decimals))
        else:
            units.append(None)
    return units


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))


def rounding_ties(a: list[tuple], b: list[tuple]) -> list[tuple] | None:
    """The (row, column, value in a, value in b) where ``a`` and ``b``
    differ by one unit of the column's last printed decimal, for a
    column of floats printed with 2 to 9 decimals; None if they differ
    in any other way."""
    if len(a) != len(b) or any(len(x) != len(y) for x, y in zip(a, b)):
        return None
    units = _last_decimal_units(a + b)
    ties = []
    for row, (x, y) in enumerate(zip(a, b)):
        for col, (u, v, unit) in enumerate(zip(x, y, units)):
            if _same(u, v):
                continue
            if unit is None or not (isinstance(u, float) and isinstance(v, float)):
                return None
            if not math.isclose(abs(u - v), unit, rel_tol=1e-6):
                return None
            ties.append((row, col, u, v))
    return ties


def on_boundary(ties: list[tuple], unrounded: list[tuple]) -> bool:
    """Whether each tie's unrounded value (same row and column of
    ``unrounded``) is the midpoint of the two rounded values."""
    for row, col, u, v in ties:
        x = unrounded[row][col] if row < len(unrounded) and col < len(unrounded[row]) else None
        if not isinstance(x, float) or not math.isclose(x, (u + v) / 2, rel_tol=REL_TOL):
            return False
    return True
