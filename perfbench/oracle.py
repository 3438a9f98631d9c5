"""Order-insensitive result fingerprints and the DuckDB reference engine."""

from __future__ import annotations

import hashlib
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def fingerprint(cols: list[str], rows: list) -> tuple[int, str]:
    """(row count, sha256 of the rows with columns sorted by lower-cased
    name and rows sorted), so column order and row order do not matter."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=names.__getitem__)
    canon = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(
        [",".join(sorted(names))] + canon).encode()).hexdigest()
    return len(canon), h


def duckdb_con(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def duckdb_fingerprint(con, sql: str) -> tuple[int, str]:
    rel = con.sql(sql)
    return fingerprint(rel.columns, rel.fetchall())
