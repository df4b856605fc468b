"""Output check for the query workloads.

A result is summarised as its row count plus an order-insensitive hash
of its values. Both engines' rows are put in one canonical form first
(columns by name, structs as sorted key/value pairs, decimals
normalised, timestamps as ISO strings), so a Spark result and the
DuckDB ``oracle_sql()`` result of the same query hash alike exactly
when the parity suite would call them equal.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math


def canon(v):
    """Canonical, repr-stable form of one cell."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v) + 0.0  # -0.0 and 0.0 compare equal; give them one repr
    if isinstance(v, int):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return "D" + str(v.normalize())
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "B" + bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # pyspark Row (a struct value)
        return canon(v.asDict())
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    try:  # numpy scalars
        return canon(v.item())
    except AttributeError:
        return v


def summarize(columns: list[str], rows) -> dict:
    """Row count, sorted column names and order-insensitive value hash."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {
        "rows": len(lines),
        "columns": [columns[i] for i in order],
        "hash": h.hexdigest(),
    }


def spark_summary(df) -> dict:
    return summarize(df.columns, [tuple(r) for r in df.collect()])


def mismatch(got: dict, want: dict) -> str | None:
    """None when ``got`` matches the oracle, else a one-line reason."""
    for key in ("columns", "rows", "hash"):
        if got[key] != want[key]:
            return f"{key}: got {got[key]!r}, want {want[key]!r}"
    return None
