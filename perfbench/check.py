"""Output check: an op's result against its DuckDB oracle.

A result is reduced to a hash of its rows that ignores row order and
column order and is strict about type class, like the engine's
verification recipe: an int never equals a float, NaN equals NaN, a
null is a null, timestamps compare by their UTC instant. Integer widths
are not distinguished (Spark's INT and DuckDB's BIGINT carry equal values).
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime, timezone
from decimal import Decimal

import numpy as np
import pandas as pd

from gen import TABLES


def norm(v):
    """Type-tagged canonical form of one value of an object column."""
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if hasattr(v, "item"):  # numpy scalar
        return norm(v.item())
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", "NaN" if math.isnan(v) else v + 0.0)
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return ("ts", v.isoformat())
    if isinstance(v, date):
        return ("date", v.isoformat())
    return v


def _canonical(s: pd.Series) -> tuple[str, pd.Series]:
    """(type class, values whose hash is equal exactly when the values are)."""
    kind = s.dtype.kind
    if kind in "iu":
        if s.isna().any():  # nullable extension dtype holding nulls
            return "int", s.astype("float64")
        return "int", s.astype("int64")
    if kind == "f":
        v = s.astype("float64").to_numpy(copy=True)
        nan = np.isnan(v)
        v[~nan] += 0.0  # -0.0 == 0.0
        v[nan] = np.nan  # one NaN payload
        return "float", pd.Series(v)
    if kind == "b":
        return "bool", s.astype("float64")
    if kind == "M":
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return "ts", s.astype("datetime64[us]").astype("int64")
    if all(isinstance(x, str) or x is None for x in s):
        return "str", s.astype(object)
    return "obj", s.map(lambda x: repr(norm(x)))


def frame_hash(frame: pd.DataFrame) -> str:
    """Hash of a result frame, independent of row and column order."""
    cols = sorted(frame.columns, key=str.lower)
    tags, canon = [], {}
    for i, c in enumerate(cols):
        tag, values = _canonical(frame[c].reset_index(drop=True))
        tags.append((c.lower(), tag))
        canon[i] = values
    h = hashlib.sha256(repr((tags, len(frame))).encode())
    if len(frame):
        rows = pd.util.hash_pandas_object(pd.DataFrame(canon), index=False)
        h.update(str(int(rows.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))).encode())
    return h.hexdigest()


class Oracle:
    """DuckDB views over one input directory; answers each op's oracle SQL
    with a frame hash, computed once per op."""

    def __init__(self, sf_dir: str):
        import duckdb

        self._con = duckdb.connect()
        self._con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self._hashes: dict[str, str] = {}

    def hash(self, name: str, sql: str) -> str:
        if name not in self._hashes:
            self._hashes[name] = frame_hash(self._con.execute(sql).df())
        return self._hashes[name]

    def close(self) -> None:
        self._con.close()
