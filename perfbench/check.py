"""Order-insensitive result comparison with a float tolerance.

Rows are compared as multisets after sorting columns by name; floats
match within a relative 1e-9 (Spark and DuckDB sum in different
orders), timestamps by value, lists element by element.
"""

from __future__ import annotations

import datetime as _dt
import math
from decimal import Decimal
from typing import Any, Iterable, Sequence

REL_TOL = 1e-9


def _canon(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _canon(v.tolist())
    return v


def _key(row: tuple) -> tuple:
    # floats rounded for the sort key only; the comparison uses the tolerance
    return tuple(
        (0, "") if v is None else (1, f"{v:.6g}") if isinstance(v, float) else (2, str(v))
        for v in row
    )


def normalize(rows: Iterable[Sequence[Any]], columns: Sequence[str]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=_key)
    return out


def _close(a: Any, b: Any) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b or math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got: list[tuple], got_cols: Sequence[str],
              want: list[tuple], want_cols: Sequence[str], ordered: bool = False) -> bool:
    """True when both results hold the same columns and the same rows
    (as a multiset, or in order when ``ordered``)."""
    if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in want_cols):
        return False
    if len(got) != len(want):
        return False
    if ordered:
        g = [tuple(_canon(v) for v in r) for r in got]
        idx = [list(want_cols).index(c) for c in got_cols]
        w = [tuple(_canon(r[i]) for i in idx) for r in want]
        return all(_close(x, y) for x, y in zip(g, w))
    lower_g = [c.lower() for c in got_cols]
    lower_w = [c.lower() for c in want_cols]
    g = normalize(got, lower_g)
    w = normalize(want, lower_w)
    return all(_close(x, y) for x, y in zip(g, w))
