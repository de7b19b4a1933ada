"""Order-insensitive result digests shared by the oracle derivation and
the benchmark's correctness gate.

The rules follow ``tests/oracle.py``: column names compared
case-insensitively, rows compared as a multiset, floats compared
exactly.  One canonical string per cell makes the Spark side (a
``toPandas`` frame) and the DuckDB side (``fetchall`` tuples) comparable
without keeping either result around:

- NULL and NaN both read as NULL (``toPandas`` turns a NULL in an
  integer column into NaN);
- a float holding an integer value reads as that integer, so an integer
  column that pandas widened to float64 still matches;
- DECIMAL reads as its float value (DuckDB and Arrow disagree on its
  Python type, not on its value);
- timestamps read as naive ISO-8601, nested values element by element.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math

import numpy as np

NULL = "\x00"


def canon(v) -> str:
    if v is None:
        return NULL
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return NULL
        if f.is_integer() and abs(f) < 2.0**53:
            return str(int(f))
        return repr(f)
    if isinstance(v, str):
        return v
    if isinstance(v, (_dt.datetime, np.datetime64)) or type(v).__name__ == "Timestamp":
        import pandas as pd

        ts = pd.Timestamp(v)
        if ts is pd.NaT:
            return NULL
        return ts.tz_localize(None).isoformat() if ts.tzinfo else ts.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items(), key=lambda kv: canon(kv[0]))) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if type(v).__name__ == "NaTType":
        return NULL
    return str(v)


def digest(columns, rows) -> dict:
    """``{"rows": n, "sha": hex}`` of a result given its column names
    and an iterable of row tuples."""
    cols = [str(c).lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(cols[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e")
        h.update(line.encode())
    return {"rows": len(lines), "sha": h.hexdigest()}


def digest_pandas(pdf) -> dict:
    return digest(list(pdf.columns), pdf.itertuples(index=False, name=None))
