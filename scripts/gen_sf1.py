"""Generate an sf1 dataset (10× sf0.1) for the scale canary, under
.scale/sf1 in the repo root (gitignored — regenerate with this script).

Method: 10 key-shifted copies of every sf0.1 fact table, with foreign
keys shifted by the SAME stride so join integrity is exactly preserved
(each copy is a disjoint, self-consistent shard of the key space — the
way a 10× larger TPC-H would look). region/nation are fixed dimensions
and are copied as-is; nationkey/regionkey FKs are left unshifted.

documents/embeddings keep their payloads verbatim, so every sf0.1
near-dup cluster becomes a 10×-larger cluster — a deliberate stress for
the band-capped LSH path (the thing the canary exists to watch).

DuckDB does the whole job (no Spark session, so it can run while a
bench holds the JVM).
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1"
)
COPIES = int(sys.argv[3]) if len(sys.argv) > 3 else 10  # sf3 spot: pass 30
STRIDE = 10_000_000  # far above any sf0.1 key; 10 copies stay well in int64

# per-table: columns to shift by c*STRIDE (key domains shared across FKs)
SHIFTED = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    for tbl, keys in SHIFTED.items():
        src = f"{SRC}/{tbl}.parquet"
        cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
        if not keys:
            con.execute(f"COPY (SELECT * FROM '{src}') TO '{DST}/{tbl}.parquet' (FORMAT PARQUET)")
            n = con.execute(f"SELECT COUNT(*) FROM '{DST}/{tbl}.parquet'").fetchone()[0]
            print(f"{tbl}: {n} rows (copied)")
            continue
        select = ", ".join(
            f"{c} + c.c * {STRIDE} AS {c}" if c in keys else c for c in cols
        )
        con.execute(
            f"""
            COPY (
                SELECT {select}
                FROM '{src}'
                CROSS JOIN (SELECT UNNEST(RANGE({COPIES})) AS c) AS c
            ) TO '{DST}/{tbl}.parquet' (FORMAT PARQUET)
            """
        )
        n = con.execute(f"SELECT COUNT(*) FROM '{DST}/{tbl}.parquet'").fetchone()[0]
        print(f"{tbl}: {n} rows ({COPIES} shifted copies)")


if __name__ == "__main__":
    main()
