"""Result fingerprints and the DuckDB oracle connection.

A fingerprint is (row count, order-insensitive 64-bit sum of row
hashes) over the result with its columns sorted by name. Cells are
canonicalised first so that the same values hash the same whichever
engine produced them: every number and timestamp becomes float64,
everything else a string.
"""

from __future__ import annotations

import datetime
import decimal

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "<null>"
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(pd.Timestamp(v).value)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "(" + ",".join(_cell(x) for x in v) + ")"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (int, float, np.integer, np.floating)):
        return repr(float(v))
    return str(v)


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns, key=str.lower)
    out = {}
    for c in cols:
        s = df[c]
        if s.dtype == object:
            first = next((v for v in s if v is not None), None)
            if isinstance(first, (datetime.date, datetime.datetime)):
                s = pd.to_datetime(s)
            elif isinstance(first, (decimal.Decimal, int, float)) and not isinstance(first, bool):
                s = s.map(lambda v: np.nan if v is None else float(v)).astype("float64")
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            out[c.lower()] = s.astype("datetime64[ns]").astype("int64").astype("float64")
        elif pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
            out[c.lower()] = s.astype("float64")
        else:
            out[c.lower()] = s.map(_cell).astype(object)
    return pd.DataFrame(out)


def fingerprint(df: pd.DataFrame) -> tuple[int, int]:
    if len(df) == 0:
        return (0, 0)
    h = pd.util.hash_pandas_object(canonical(df), index=False).to_numpy()
    return (len(df), int(h.sum(dtype=np.uint64)))


def duck(data_dir: str):
    """DuckDB connection with one view per fixture table in ``data_dir``."""
    import os

    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con
