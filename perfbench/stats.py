"""Small pure helpers: summary statistics, metric names, result digests."""

from __future__ import annotations

import datetime
import hashlib
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric or workload name, else
    raise ValueError."""
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad unit {unit!r}")
    return unit


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that has at least ``min_beyond`` samples
    above it, as ``(value, percentile, n_beyond)``.

    The candidate percentiles are whole numbers from 99 down to 50; a
    percentile ``p`` is supported when ``floor(n * (100 - p) / 100)``
    samples lie above its rank. With 100 samples that is p90 with 10
    beyond. With fewer than ``2 * min_beyond`` samples no percentile
    from 50 up is supported, and the median is returned with the count
    of samples above it."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no values")
    for p in range(99, 49, -1):
        beyond = (n * (100 - p)) // 100
        if beyond >= min_beyond:
            return s[n - beyond - 1], float(p), beyond
    return median(s), 50.0, n // 2


def norm_cell(v) -> str:
    """Canonical text of one result cell, the same normalization the
    repository's oracle checker applies (floats to 9 dp, timestamps to
    ISO strings)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{round(v, 9):.9f}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_digest(cols: list[str], rows) -> dict:
    """Order-insensitive digest of a result: row count, column names
    and an md5 over the sorted, name-ordered, normalized rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    return {
        "rows": len(lines),
        "cols": sorted(cols),
        "md5": hashlib.md5("\n".join(lines).encode()).hexdigest(),
    }
