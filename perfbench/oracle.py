"""Order-insensitive result hashing for query_suite's output checks.

Rows are normalized the way the engine's oracle gate normalizes them:
columns sorted by name, cells in a canonical Python form (arrays as
tuples, floats by ``repr`` so -0.0 and +0.0 differ and every NaN reads
'nan'), rows sorted by their canonical string. Equal hashes mean equal
result sets, so a pass is checked against the DuckDB oracle (or the first
pass) by comparing one string.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import numpy as np


def canon_cell(x):
    if x is None:
        return "<null>"
    if isinstance(x, (bool, np.bool_)):
        return bool(x)
    if isinstance(x, (float, np.floating)):
        return "nan" if math.isnan(x) else repr(float(x))
    if isinstance(x, np.generic):
        return x.item()
    if isinstance(x, (np.ndarray, list, tuple)):
        return tuple(canon_cell(v) for v in x)
    if isinstance(x, dict):
        # DuckDB returns a struct as a dict; Spark returns a Row (a tuple)
        return tuple(canon_cell(v) for v in x.values())
    if isinstance(x, (dt.date, dt.datetime)):
        return x.isoformat()
    if isinstance(x, decimal.Decimal):
        return str(x.normalize())
    return x


def result_hash(columns: list[str], rows) -> str:
    """Hash of a result set given its column names and row tuples (Spark
    ``Row`` objects or DuckDB tuples)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        str(tuple(canon_cell(r[i]) for i in order)) for r in rows
    )
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(canon)}:{h.hexdigest()[:16]}"


def duck_connection(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for name in tables:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(sf_dir, name)}.parquet'")
    return con


def oracle_hash(con, sql: str) -> str:
    rel = con.sql(sql)
    return result_hash(list(rel.columns), rel.fetchall())
