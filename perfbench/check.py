"""Result verification: a collected engine result against its expected
rows, by row count, column names and an order-insensitive comparison of
values.

Doubles compare exactly: the registry rounds aggregates to fixed decimals
in both the engine and its DuckDB oracle, so equal results are equal to
the last bit. Timestamps compare at microsecond precision as ISO strings,
and arrays element-wise through the same string form.
"""

from __future__ import annotations

import datetime as dt
import math
from typing import Any

import pandas as pd


def _cell(v: Any) -> Any:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return str(tuple(_cell(x) for x in v))
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        # a DATE arrives as a date from Spark and as a midnight timestamp from DuckDB
        return v.date().isoformat() if v.time() == dt.time(0) else v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    if isinstance(v, bool):
        return int(v)
    return v


def _sort_key(row: tuple) -> tuple:
    # None sorts last; mixed int/float compare numerically, everything else as str
    return tuple((1, "") if v is None else (0, v) if isinstance(v, (int, float)) else (0.5, str(v)) for v in row)


def normalize(frame: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(frame.columns)
    rows = [tuple(_cell(v) for v in r) for r in frame[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=_sort_key)


def compare(got: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    gc, gr = normalize(got)
    ec, er = normalize(expected)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"row count {len(gr)} != {len(er)}"
    for c in gc:
        if pd.api.types.is_float_dtype(got[c]) != pd.api.types.is_float_dtype(expected[c]):
            return f"col {c}: dtype class {got[c].dtype} != {expected[c].dtype}"
    for i, (a, b) in enumerate(zip(gr, er)):
        for c, x, y in zip(gc, a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or float(x) != float(y):
                    if not (x is None and y is None):
                        return f"row {i} col {c}: {x!r} != {y!r}"
            elif x != y and str(x) != str(y):
                return f"row {i} col {c}: {x!r} != {y!r}"
    return None
