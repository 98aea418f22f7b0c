"""Output checks, run outside every timed region.

Oracle-backed queries are compared with their DuckDB oracle by
``oracle.compare_query`` (batch.py). Rows-only queries are compared
with a row count and an order-insensitive content digest recorded from
a clean run (expected.json); members whose digest is not stable across
clean runs are marked there and checked by row count.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _canon(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items())}
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "nan" if math.isnan(f) else repr(f)
    if isinstance(v, (np.integer, int, np.bool_, bool)):
        return int(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return str(v)


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: one hash per canonical row
    (columns by name), the sorted row hashes hashed again."""
    cols = sorted(pdf.columns)
    rows = sorted(
        hashlib.sha1(json.dumps([_canon(v) for v in row]).encode()).hexdigest()
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()[:32]


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


def rows_only_mismatch(name: str, pdf: pd.DataFrame, expected: dict) -> str | None:
    want = expected.get(name)
    if want is None:
        return f"no expected entry (rows={len(pdf)} digest={digest(pdf)})"
    if len(pdf) != want["rows"]:
        return f"rows {len(pdf)} vs expected {want['rows']}"
    if want.get("digest") is not None and digest(pdf) != want["digest"]:
        return f"digest {digest(pdf)} vs expected {want['digest']}"
    return None
