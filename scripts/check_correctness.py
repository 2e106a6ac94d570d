"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables, then compares row count,
column names, and an order-insensitive value hash (floats rounded to
6 significant-ish decimals, like a tolerant driver would).

Usage: python scripts/check_correctness.py [sf_dir] [name ...]

A name that matches no query is an error (exit 2), so a typo cannot
pass as a run of zero queries.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402

from postgres_s3_etl_spark.catalog import TABLES, table_path  # noqa: E402
from postgres_s3_etl_spark.session import get_spark  # noqa: E402


def _norm_cell(v):
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
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    import hashlib

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    unknown = sorted(only - qs.keys())
    if unknown:
        print("unknown query names: " + " ".join(unknown))
        return 2
    if os.environ.get("SPARK_GRAFT_PLAIN_SESSION"):
        # Mimic the driver: a bare SparkSession with NONE of our
        # session.py defaults — catches any query that silently
        # depends on get_spark's config (the round-1 nanos bug).
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("plain")
            .master("local[32]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "8g")
            .getOrCreate()
        )
    else:
        spark = get_spark("check-correctness")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
        )

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        dt = time.time() - t0
        if name not in oracles:
            n_rows_only += 1
            print(f"ROWS-ONLY {name}: {len(srows)} rows  ({dt:.1f}s)")
            continue
        ores = con.execute(oracles[name])
        ocols = [d[0] for d in ores.description]
        orows = ores.fetchall()
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            h1, h2 = _hash_rows(scols, srows), _hash_rows(ocols, orows)
            if h1 != h2:
                problems.append("value-hash mismatch")
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("|".join(_norm_cell(r[i]) for i in order_s) for r in srows)
                lo = sorted("|".join(_norm_cell(r[i]) for i in order_o) for r in orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        problems.append(f"  spark:  {a[:200]}")
                        problems.append(f"  oracle: {b[:200]}")
                        break
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
        else:
            n_pass += 1
            print(f"PASS {name}: {len(srows)} rows  ({dt:.1f}s)")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
