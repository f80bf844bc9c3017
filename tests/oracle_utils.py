"""Local re-implementation of the driver's Spark-vs-DuckDB compare.

Order-insensitive: columns sorted by name, rows sorted by their normalized
value tuple. Used by the parity tests so every ``queries()`` entry is
validated against its ``oracle_sql()`` before the driver ever runs.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents"
).split()


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round to tolerate engine-order float summation differences
        return round(v, 6)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def normalized_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def spark_result(df) -> tuple[list[str], list[tuple]]:
    return list(df.columns), [tuple(r) for r in df.collect()]


def duckdb_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, [tuple(r) for r in cur.fetchall()]


def assert_parity(df, sql: str, sf_dir: str, *, min_rows: int = 0) -> None:
    """``min_rows=1`` adds the NON-VACUITY gate (the r8
    multimodal_phash_pairs lesson: 0 == 0 parity proves nothing) at no
    extra execution — the count comes from the already-collected rows."""
    s_cols, s_rows = spark_result(df)
    con = duckdb_conn(sf_dir)
    try:
        d_cols, d_rows = duckdb_result(con, sql)
    finally:
        con.close()
    assert sorted(s_cols) == sorted(d_cols), (
        f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) >= min_rows, (
        f"vacuous result: {len(s_rows)} rows < required {min_rows}"
    )
    assert len(s_rows) == len(d_rows), (
        f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    sn = normalized_rows(s_cols, s_rows)
    dn = normalized_rows(d_cols, d_rows)
    for i, (a, b) in enumerate(zip(sn, dn)):
        assert a == b, f"row {i} mismatch:\n  spark={a}\n  duckdb={b}"
