"""Compare a query's Spark output with its DuckDB oracle.

The comparison is the local correctness gate's (row count, column
names, order-insensitive values compared by ``repr``, so doubles must
be bit-identical) plus the pandas dtype of every column. A Spark
``DATE`` column arrives in pandas as ``object`` holding ``datetime.date``
values where DuckDB gives ``datetime64``; that pair, and datetime64
unit differences, count as the same dtype.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import numpy as np
import pandas as pd


def connect(data_dir: str, tables):
    """A DuckDB connection with one view per parquet table."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v):
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (float, np.floating)):
        return "nan" if math.isnan(v) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def _rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(_cell(v) for v in row) for row in df[cols].itertuples(index=False))


def _dtype_class(s: pd.Series) -> str:
    d = str(s.dtype)
    if d.startswith("datetime64"):
        return "datetime64"
    if d == "object":
        first = s.dropna()
        if len(first) and isinstance(first.iloc[0], dt.date):
            return "datetime64"
    return d


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Every difference between a Spark result and its oracle result."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns spark={sorted(got.columns)} oracle={sorted(want.columns)}"]
    problems = []
    if len(got) != len(want):
        problems.append(f"rows spark={len(got)} oracle={len(want)}")
    dtypes = {
        c: (_dtype_class(got[c]), _dtype_class(want[c]))
        for c in got.columns
        if _dtype_class(got[c]) != _dtype_class(want[c])
    }
    if dtypes:
        problems.append(f"dtypes {dtypes}")
    if not problems:
        g, w = _rows(got), _rows(want)
        if g != w:
            diff = sum(a != b for a, b in zip(g, w))
            problems.append(f"values: {diff} rows differ")
    return problems
