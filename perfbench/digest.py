"""Order-insensitive result digests.

Implements the oracle comparison rules of the engine's parity tests (columns
compared by name, rows as a multiset, floats bit-exact) as a hash, so the
expected side is stored once instead of re-running DuckDB in every benchmark
run. Engine-vs-DuckDB physical type differences are folded away first:
every numeric column (int, float, Decimal, bool) becomes float64, every
temporal column integer microseconds, every null one sentinel. Result
columns are scalars (the benchmarked oracles return BIGINT, DOUBLE,
TIMESTAMP and VARCHAR); any other cell is compared by its ``str``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib

import numpy as np
import pandas as pd

_NULL = "\x00"
_NAT = np.iinfo(np.int64).min


def _micros(s: pd.Series) -> pd.Series:
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    out = s.astype("datetime64[us]").astype("int64")
    return out.where(s.notna(), _NAT)


def _float_bits(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64) + 0.0  # -0.0 -> 0.0
    x[np.isnan(x)] = np.nan  # one NaN payload
    return x.view(np.int64)


def canonical(s: pd.Series) -> pd.Series:
    """One column in the shared canonical representation."""
    if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
        return pd.Series(_float_bits(s.astype("float64").to_numpy()))
    if pd.api.types.is_datetime64_any_dtype(s):
        return _micros(s).reset_index(drop=True)
    nonnull = s.dropna()
    first = nonnull.iloc[0] if len(nonnull) else None
    if isinstance(first, (decimal.Decimal, float, int, bool, np.number, np.bool_)):
        vals = [np.nan if v is None else float(v) for v in s.tolist()]
        return pd.Series(_float_bits(np.array(vals, dtype=np.float64)))
    if isinstance(first, (dt.date, dt.datetime, pd.Timestamp)):
        return _micros(pd.to_datetime(s)).reset_index(drop=True)
    return pd.Series([_NULL if v is None or v is np.nan else str(v) for v in s.tolist()],
                     dtype=object)


def frame_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, sha256) of a result frame, insensitive to row order and
    column order: the sorted 64-bit hashes of the canonical rows."""
    cols = sorted(pdf.columns)
    h = hashlib.sha256("\x1f".join(cols).encode())
    if cols and len(pdf):
        canon = pd.DataFrame({c: canonical(pdf[c]) for c in cols})
        rows = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())
        h.update(rows.tobytes())
    return len(pdf), h.hexdigest()
