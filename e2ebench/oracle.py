"""DuckDB oracle and the order-insensitive result comparison.

Expected results are computed before the timed phase; an op's result is
compared to them after the op's timer stops.  Canonical form: columns
sorted by name, each value rendered to a stable string (floats by repr,
decimals by str, timestamps by isoformat, arrays element-wise), rows
sorted -- the same value hash the registry's parity tests use, applied
to ``toPandas()`` output.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import numpy as np
import pandas as pd


def connect(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per ``name -> parquet path``."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def fixture_views(sf_dir: str) -> dict[str, str]:
    return {
        f[: -len(".parquet")]: os.path.join(sf_dir, f)
        for f in sorted(os.listdir(sf_dir))
        if f.endswith(".parquet")
    }


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))  # DuckDB's fetchdf hands DECIMAL over as double
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def canonical(pdf: pd.DataFrame) -> tuple[tuple[str, ...], list[str]]:
    cols = tuple(sorted(pdf.columns))
    rows = sorted(
        "|".join(_canon(v) for v in row)
        for row in pdf[list(cols)].itertuples(index=False, name=None)
    )
    return cols, rows


def query(con: duckdb.DuckDBPyConnection, sql: str) -> pd.DataFrame:
    return con.execute(sql).fetchdf()


def same(actual: pd.DataFrame, expected: tuple[tuple[str, ...], list[str]]) -> bool:
    """``expected`` is the ``canonical()`` form of the oracle's rows."""
    return canonical(actual) == expected
