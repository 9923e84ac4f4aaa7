"""Canonical result hash shared by the oracle command and the runs.

The form is the exact one of ``tools/correctness_full.py``: columns
sorted by name, values normalized without rounding (NaN to a sentinel,
lists to tuples, dicts to sorted item tuples), rows sorted by ``repr``,
and the first 16 hex digits of a sha256 over the row reprs.
"""

from __future__ import annotations

import hashlib
import math
from typing import Any


def _norm(v: Any) -> Any:
    if isinstance(v, float) and math.isnan(v):
        return "__NaN__"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result given as column names + rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        (tuple(_norm(row[i]) for i in order) for row in rows), key=repr
    )
    h = hashlib.sha256()
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]
