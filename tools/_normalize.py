"""Shared strict value normalizer for oracle comparison.

STRICTER than any plausible driver normalizer: floats via full repr
(every ULP visible), Decimals via str (scale-sensitive — a decimal(38,6)
vs decimal(38,2) result differs even when numerically equal),
timestamps via isoformat (tz-aware renders its offset). If a query is
green under this normalizer in EVERY session-matrix cell, it is green
under any reasonable driver hasher in any environment.
"""

from __future__ import annotations

import decimal
import hashlib
import math
from datetime import date, datetime


def norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def row_lines(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm(r[i]) for i in order) for r in rows)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for line in row_lines(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def diff_sample(scols, srows, dcols, drows, k: int = 3):
    """Up to ``k`` normalized rows found only on each side."""
    slines = row_lines(scols, srows)
    dlines = row_lines(dcols, drows)
    sset, dset = set(slines), set(dlines)
    sonly = [x for x in slines if x not in dset][:k]
    donly = [x for x in dlines if x not in sset][:k]
    return sonly, donly
