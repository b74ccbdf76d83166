"""Result fingerprints for the benchmark's correctness check.

A fingerprint is a row count plus an order-insensitive hash of the
values. Values are normalized the way the repository's oracle comparison
does it (columns sorted by name, timestamps at microsecond precision,
integer and float columns compared by value), so a Spark result and its
DuckDB oracle give the same fingerprint exactly when that comparison
would call them equal.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import numpy as np
import pandas as pd


def _cell(v: object) -> str:
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "null"
        # an integral value reads the same whether one engine typed it
        # integer and the other float
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return repr(f)
    if isinstance(v, (pd.Timestamp, np.datetime64, datetime.datetime)):
        return str(pd.Timestamp(v).to_datetime64().astype("datetime64[us]"))
    if isinstance(v, str):
        return repr(v)
    raise TypeError(f"no fingerprint rule for {type(v).__name__}")


def fingerprint(df: pd.DataFrame) -> dict:
    """{"rows": n, "hash": hex} of a result frame, independent of row
    and column order."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\n")
        h.update(r.encode())
    return {"rows": len(rows), "hash": h.hexdigest()}
