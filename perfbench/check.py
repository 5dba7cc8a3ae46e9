"""Result checks against the engine's DuckDB oracles.

A result is reduced to a fingerprint: its column names, the kind of each
column (integer, float, text, time, ...), its row count and a SHA-256 over
its canonicalized rows in sorted order — so the comparison ignores row
order but not types, NULLs or values. Spark and DuckDB results are both
fetched as Arrow tables.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import pyarrow as pa

import gen


def _kind(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return "time"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    return str(t)


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:  # Spark renders LTZ timestamps in the session zone (UTC)
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    return v


def fingerprint(tbl: pa.Table) -> dict:
    cols = sorted(tbl.column_names)
    tbl = tbl.select(cols)
    floats = [c for c in cols if pa.types.is_floating(tbl.schema.field(c).type)]
    rows = [tuple(_canon(r[c]) for c in cols) for r in tbl.to_pylist()]
    rows.sort(key=lambda r: tuple((x is None, type(x).__name__, str(x)) for x in r))
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return {
        "columns": cols,
        "kinds": [_kind(tbl.schema.field(c).type) for c in cols],
        # a NaN and a NULL canonicalize alike, so keep their counts apart
        "null_nan": [[tbl[c].null_count, sum(1 for x in tbl[c].to_pylist() if x != x)] for c in floats],
        "rows": tbl.num_rows,
        "sha256": h.hexdigest(),
    }


def duck_fingerprint(data_dir: str, sql: str) -> dict:
    """Fingerprint of ``sql`` run by DuckDB over the generated tables.
    Spark-written or multi-file tables are directories, read via a glob."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        return fingerprint(con.execute(sql).arrow())
    finally:
        con.close()


def diff(got: dict, want: dict) -> str | None:
    """None when the fingerprints agree, else a one-line reason."""
    for key in ("columns", "kinds", "rows", "null_nan", "sha256"):
        if got[key] != want[key]:
            return f"{key}: got {got[key]!r:.120} want {want[key]!r:.120}"
    return None
