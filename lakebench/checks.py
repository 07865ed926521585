"""Output checks: an order-insensitive fingerprint of a result table, the
DuckDB oracle side of the query checks, and the lake ground-truth checks.

A fingerprint is (row count, sorted column names with their value kind,
sha1 over the sorted per-row digests). Two results match when all three
do, which is the registry's correctness rule (columns by name, rows in
any order, exact values).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os

import numpy as np
import pandas as pd


def _canon(v) -> str:
    """A stable text form of one cell: containers recurse, maps sort by
    key, timestamps drop their unit, integers and exact floats agree
    across engines (DuckDB may hand back int columns as float when they
    hold nulls)."""
    if v is None:
        return "∅"
    if isinstance(v, (pd.Timestamp, _dt.datetime, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts is pd.NaT:
            return "∅"
        return ts.tz_localize(None).isoformat() if ts.tzinfo else ts.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(v[k])}" for k in sorted(v, key=str)) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        # Arrow hands maps over as lists of (key, value) pairs
        if len(v) and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return _canon(dict(v))
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "∅"
        return str(int(f)) if f.is_integer() and abs(f) < 2**53 else repr(f)
    if hasattr(v, "asDict"):
        return _canon(v.asDict(recursive=True))
    return str(v)


def _kind(series: pd.Series) -> str:
    k = series.dtype.kind
    if k in "iuf":
        return "n"  # numeric: int vs float is an engine detail
    if k == "M":
        return "t"
    if k == "b":
        return "b"
    return "o"


def fingerprint(df: pd.DataFrame) -> tuple:
    cols = sorted(df.columns)
    rows = sorted(
        hashlib.sha1("\x1f".join(_canon(v) for v in row).encode()).hexdigest()
        for row in df[cols].itertuples(index=False, name=None)
    )
    return (
        len(df),
        tuple((c, _kind(df[c])) for c in cols),
        hashlib.sha1("".join(rows).encode()).hexdigest(),
    )


def oracle_fingerprints(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple]:
    """Run each oracle query on DuckDB over the generated tables."""
    import duckdb

    from ftm_datalake_spark.schemas import TEST_TABLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TEST_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {name: fingerprint(con.execute(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()


def describe_mismatch(got: tuple, want: tuple) -> str:
    if got[0] != want[0]:
        return f"rows {got[0]} != oracle {want[0]}"
    if got[1] != want[1]:
        return f"columns {got[1]} != oracle {want[1]}"
    return "values differ from oracle"
