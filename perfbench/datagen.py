"""Seeded input generator for the benchmark.

Writes the engine's table set (TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``) as one parquet file per table, with
the same column names, types and value ranges as the testdata the
engine's oracles were written against, and the CSV landing zone the
``etl_dags`` workload ingests. The same ``(seed, sf)`` always gives
byte-identical values; nothing here touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

ORDER_DAY0 = np.datetime64("1995-01-01", "D")
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6

#: The columns and types of the three landing tables, in file order.
#: Dates land as ``yyyy-MM-dd`` and are read back as timestamps, as the
#: parquet testdata stores them.
LANDING_SCHEMAS: dict[str, tuple[tuple[str, str], ...]] = {
    "orders": (
        ("o_orderkey", "BIGINT"),
        ("o_custkey", "BIGINT"),
        ("o_orderstatus", "STRING"),
        ("o_totalprice", "DOUBLE"),
        ("o_orderdate", "TIMESTAMP"),
        ("o_orderpriority", "STRING"),
    ),
    "lineitem": (
        ("l_orderkey", "BIGINT"),
        ("l_partkey", "BIGINT"),
        ("l_suppkey", "BIGINT"),
        ("l_linenumber", "INT"),
        ("l_quantity", "DOUBLE"),
        ("l_extendedprice", "DOUBLE"),
        ("l_discount", "DOUBLE"),
        ("l_tax", "DOUBLE"),
        ("l_returnflag", "STRING"),
        ("l_linestatus", "STRING"),
        ("l_shipdate", "TIMESTAMP"),
    ),
    "part": (
        ("p_partkey", "BIGINT"),
        ("p_name", "STRING"),
        ("p_brand", "STRING"),
        ("p_type", "STRING"),
        ("p_size", "INT"),
        ("p_retailprice", "DOUBLE"),
    ),
}


def table_rows(sf: float) -> dict[str, int]:
    """Row count of every table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(100, int(200_000 * sf)),
        "orders": max(500, int(1_500_000 * sf)),
        "lineitem": max(2_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(100, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(day0: np.datetime64, span: int, rng: np.random.Generator, n: int) -> pa.Array:
    days = day0 + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _orders(rng, n_orders: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": _keys(n_orders),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
        "o_totalprice": pa.array(_money(rng, 1_000.0, 500_000.0, n_orders)),
        "o_orderdate": _days(ORDER_DAY0, 2_400, rng, n_orders),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })


def _lineitem(rng, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
        "l_partkey": pa.array(rng.integers(0, n_part, n)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(SHIP_DAY0, 2_500, rng, n),
    })


def _part(rng, n: int) -> pa.Table:
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(rng, tuple(names), n),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        # One document in twenty repeats an earlier one, half of them
        # verbatim and half with a marker word appended, so the dedup
        # operators have exact and near duplicates to find.
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if rng.random() < 0.5 else src + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": _keys(n),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.ravel(), type=pa.float32())
    return pa.table({
        "vec_id": _keys(n),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)), flat
        ),
        "label": pa.array(labels),
    })


def _events(rng, n: int, n_users: int) -> pa.Table:
    gaps = rng.exponential(1.0, n)
    offsets = np.cumsum(gaps) / gaps.sum() * EVENT_SPAN_US * 0.999
    return pa.table({
        "event_id": _keys(n),
        "ts": pa.array(EVENT_T0 + offsets.astype(np.int64).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table at scale ``sf`` as ``out_dir/<name>.parquet``
    and return the row count of each."""
    rows = table_rows(sf)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = rows["customer"], rows["supplier"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": _keys(n_cust),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9_999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": _keys(n_supp),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9_999.99, n_supp)),
        }),
        "part": _part(rng, rows["part"]),
        "orders": _orders(rng, rows["orders"], n_cust),
        "lineitem": _lineitem(rng, rows["lineitem"], rows["orders"], rows["part"], n_supp),
        "events": _events(rng, rows["events"], max(100, n_cust // 10)),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return rows


def make_landing(out_dir: str, seed: int, sf: float, files: dict[str, int]) -> dict[str, int]:
    """Write the CSV landing zone: ``out_dir/<table>/part-NNNNN.csv``
    with a header per file, ``files[table]`` files per table. Returns
    the row count of each table."""
    rows = table_rows(sf)
    rng = np.random.default_rng(seed)
    tables = {
        "part": _part(rng, rows["part"]),
        "orders": _orders(rng, rows["orders"], rows["customer"]),
        "lineitem": _lineitem(
            rng, rows["lineitem"], rows["orders"], rows["part"], rows["supplier"]
        ),
    }
    write_opts = pacsv.WriteOptions(include_header=True)
    for name, table in tables.items():
        for col in table.column_names:
            if pa.types.is_timestamp(table.schema.field(col).type):
                table = table.set_column(
                    table.schema.get_field_index(col), col, table[col].cast(pa.date32())
                )
        table_dir = os.path.join(out_dir, name)
        os.makedirs(table_dir, exist_ok=True)
        n_files = files[name]
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            pacsv.write_csv(
                table.slice(i * step, step),
                os.path.join(table_dir, f"part-{i:05d}.csv"),
                write_options=write_opts,
            )
    return {name: table.num_rows for name, table in tables.items()}


def ddl(table: str) -> str:
    """Spark DDL schema string of a landing table."""
    return ", ".join(f"{c} {t}" for c, t in LANDING_SCHEMAS[table])
