"""Output checks: Spark results against DuckDB.

``same_result`` follows the registry's comparison rule: columns sorted
by name, equal row count, equal column names, no int/float family
split, and equal values as an order-insensitive multiset of row hashes
(floats must be exactly equal, as in a value hash). ``-0.0`` and
``0.0`` are one value, as they are to ``==``: DuckDB's ``ROUND`` keeps
the sign of a negative number that rounds to zero, Spark's does not.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck(data_dir: str):
    """A DuckDB connection with the input tables as views."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _canon(col: pd.Series) -> pd.Series:
    """One canonical, hashable dtype per value family."""
    k = col.dtype.kind
    if k == "f":
        return col.astype("float64") + 0.0  # -0.0 + 0.0 is 0.0
    if k in "iub":
        return col.astype("int64")
    if k == "M":
        if getattr(col.dtype, "tz", None) is not None:
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        return col.astype("datetime64[us]").astype("int64")
    return col.map(_cell).map(lambda v: "\0NULL" if v is None else repr(v))


def _cell(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_datetime64().astype("datetime64[us]").item()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return None if math.isnan(v) else v + 0.0
    return v


def _row_hashes(df: pd.DataFrame) -> np.ndarray:
    cols = sorted(df.columns)
    canon = pd.DataFrame({c: _canon(df[c]) for c in cols})
    return np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when equal, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        if got[c].isna().any() or want[c].isna().any():
            continue
        if (got[c].dtype.kind == "f") != (want[c].dtype.kind == "f"):
            return f"column {c} dtype {got[c].dtype} != {want[c].dtype}"
    differ = int((_row_hashes(got) != _row_hashes(want)).sum())
    if differ:
        return f"{differ} of {len(got)} row hashes differ"
    return None
