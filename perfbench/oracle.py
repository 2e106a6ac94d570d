"""DuckDB oracle hashes and the engine-side comparison.

The normalisation is the one ``scripts/check_correctness.py`` uses
(row count, column names, and an order-insensitive value hash with
floats cut to 6 significant digits), copied so the benchmark runs
without the repository's scripts on the path.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    if hasattr(v, "isoformat"):
        iso = v.isoformat()
        return iso[:10] if len(iso) == 10 else iso[:19]
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def result_key(cols: list[str], rows: list[tuple]) -> tuple[int, tuple[str, ...], str]:
    """``(row count, sorted column names, value hash)`` of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    digest = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return len(rows), tuple(sorted(cols)), digest


def connect(sources: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one table per ``name -> FROM clause``,
    each read once however many oracles scan it."""
    con = duckdb.connect()
    for name, source in sources.items():
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM {source}")
    return con


def parquet_sources(data_dir: str, tables) -> dict[str, str]:
    return {t: f"'{os.path.join(data_dir, t + '.parquet')}'" for t in tables}


def csv_sources(landing_dir: str, schemas: dict[str, tuple[tuple[str, str], ...]]) -> dict[str, str]:
    duck_type = {"STRING": "VARCHAR"}
    sources = {}
    for table, cols in schemas.items():
        columns = ", ".join(f"'{c}': '{duck_type.get(t, t)}'" for c, t in cols)
        sources[table] = (
            f"read_csv('{os.path.join(landing_dir, table, '*.csv')}', "
            f"header=true, columns={{{columns}}})"
        )
    return sources


def expected(con: duckdb.DuckDBPyConnection, sql: str):
    res = con.execute(sql)
    return result_key([d[0] for d in res.description], res.fetchall())


def csv_result(path: str):
    """The result key of a CSV file the engine exported."""
    con = duckdb.connect()
    try:
        res = con.execute(f"SELECT * FROM read_csv('{path}', header=true)")
        return result_key([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()
