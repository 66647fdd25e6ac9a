"""Output oracles: DuckDB twins of the warehouse queries and pandas
replays, compared order-insensitively.

Rows are compared as multisets, columns matched by name.  Floats compare
with a relative tolerance of 1e-9: engines sum doubles in different
orders, so bit-identical aggregates are not a fair demand, and rounding
to a fixed number of digits would flip on values that sit on a rounding
boundary.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd

REL_TOL = 1e-9


def _cell(v):
    """A comparable, hashable form of one cell: numbers become floats,
    times become naive-UTC ISO strings, nulls become None."""
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer, float, np.floating)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat() + " 00:00:00"
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    try:  # decimal.Decimal from either engine
        return float(v)
    except (TypeError, ValueError):
        return str(v)


def _round_sig(x: np.ndarray, sig: int = 6) -> np.ndarray:
    mag = np.floor(np.log10(np.abs(np.where((x == 0) | np.isnan(x), 1.0, x))))
    scale = 10.0 ** (sig - 1 - mag)
    return np.round(x * scale) / scale


def _canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Lower-cased columns in name order; numbers as float64, everything
    else through ``_cell``; rows sorted (floats by 6 significant digits,
    after every other column, so near-equal values pair up)."""
    cols = {}
    for name in pdf.columns:
        s = pdf[name].reset_index(drop=True)
        if pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
            s = s.astype("float64")
        else:
            s = s.astype(object).map(_cell)
            if s.map(lambda v: v is None or isinstance(v, float)).all():
                s = s.astype("float64")
        cols[str(name).lower()] = s
    out = pd.DataFrame({k: cols[k] for k in sorted(cols)})
    floats = [c for c in out.columns if out[c].dtype == "float64"]
    keys = out.assign(**{f"__k{i}": _round_sig(out[c].to_numpy()) for i, c in enumerate(floats)})
    exact = [c for c in out.columns if c not in floats]
    if len(keys):
        order = keys.sort_values(exact + [f"__k{i}" for i in range(len(floats))], kind="stable",
                                 key=lambda col: col.map(repr) if col.dtype == object else col).index
        out = out.loc[order].reset_index(drop=True)
    return out


class Result:
    """A result in canonical form, comparable across engines."""

    def __init__(self, columns: list[str], rows):
        self.frame = _canonical(pd.DataFrame.from_records(
            [tuple(_cell(v) for v in row) for row in rows], columns=list(columns),
        ))

    @classmethod
    def of_pandas(cls, pdf: pd.DataFrame) -> "Result":
        r = cls.__new__(cls)
        r.frame = _canonical(pdf)
        return r

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, Result):
            return NotImplemented
        a, b = self.frame, other.frame
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            return False
        for c in a.columns:
            if a[c].dtype == "float64" and b[c].dtype == "float64":
                if not np.isclose(a[c], b[c], rtol=REL_TOL, atol=REL_TOL, equal_nan=True).all():
                    return False
            elif not a[c].astype(object).equals(b[c].astype(object)):
                return False
        return True

    __hash__ = None


class DuckOracle:
    """DuckDB connection with the generated parquet files as views."""

    def __init__(self, tables: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for name, path in tables.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        self._cache: dict[str, Result] = {}

    def result(self, sql: str) -> Result:
        if sql not in self._cache:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self._cache[sql] = Result(cols, cur.fetchall())
        return self._cache[sql]

    def close(self) -> None:
        self.con.close()
