"""Order-insensitive result hashing, and the DuckDB oracle.

A result's hash covers its sorted column names and its rows as a
multiset, with values canonicalized so that Spark's ``toPandas`` frames
and DuckDB's Python tuples hash alike: NULL and NaN are one value,
integral floats print as integers (``toPandas`` turns an integer column
holding NULLs into floats), decimals compare as floats, timestamps as
naive ISO strings and arrays element-wise.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
from pathlib import Path
from typing import Any, Iterable, Sequence

import numpy as np
import pandas as pd

_NULL = "\x00"


def canon(v: Any) -> str:
    """One value's canonical string."""
    if v is None or v is pd.NaT:
        return _NULL
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return _NULL
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "asDict"):  # pyspark Row
        return canon(v.asDict())
    return str(v)


def value_hash(cols: Sequence[str], rows: Iterable[Sequence[Any]]) -> str:
    """sha256 over sorted column names and the sorted canonical rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x02".join(sorted(cols)).encode())
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def frame_hash(pdf: pd.DataFrame) -> str:
    """:func:`value_hash` of a pandas frame (``DataFrame.toPandas()``)."""
    return value_hash(list(pdf.columns), pdf.itertuples(index=False, name=None))


def oracle_results(
    data_dir: Path, tables: Sequence[str], sqls: dict[str, str]
) -> dict[str, tuple[list[str], list[tuple]]]:
    """``{name: (columns, rows)}`` of each SQL run by DuckDB over the
    parquet tables ``data_dir/{table}.parquet``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for name, sql in sqls.items():
            rows = con.execute(sql).fetchall()
            out[name] = ([d[0] for d in con.description], rows)
        return out
    finally:
        con.close()


def oracle_hashes(
    data_dir: Path, tables: Sequence[str], sqls: dict[str, str]
) -> dict[str, tuple[int, str]]:
    """``{name: (rows, hash)}`` of each oracle SQL's DuckDB result."""
    return {
        name: (len(rows), value_hash(cols, rows))
        for name, (cols, rows) in oracle_results(data_dir, tables, sqls).items()
    }
