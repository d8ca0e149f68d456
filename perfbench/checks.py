"""Output checks: registry results against their DuckDB oracles, with the
canonicalisation the engine's oracle-parity tests use (columns sorted by
name, floats to six significant figures, order-insensitive multisets)."""

from __future__ import annotations

import math

import duckdb

from akka_streams_kinesis_spark.io import TABLES


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _canon(v) -> str:
    if v is None:
        return "\x00<NULL>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _multiset(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def oracle_mismatch(con, sql: str, rows, cols) -> str | None:
    """None when ``rows`` (with column names ``cols``) equal the oracle's
    result; otherwise a one-line description of the first difference."""
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"row count {len(rows)} != {len(drows)}"
    for a, b in zip(_multiset([tuple(r) for r in rows], cols), _multiset(drows, dcols)):
        if a != b:
            return f"value {a} != {b}"
    return None
