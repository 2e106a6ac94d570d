"""Table catalog over a testdata scale-factor directory.

The reference keeps staging tables in Postgres schemas
(``yazejibi2622_staging.*``, reference scripts/create_tables.py:19-53)
and shared dims in ``if_common.*``. Here the catalog is a thin layer
over parquet directories: ``load_table`` reads one table lazily (no
action is triggered) and fails on a table that does not exist.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables the driver materializes per scale factor.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Fixed-cardinality dimension tables (25 nations, 5 regions) — the
#: only frames safe to hint-broadcast unreduced at any scale factor.
#: ``part``/``customer``/``supplier`` grow linearly with SF and are
#: in the broadcast audit's BIG_TABLES (scripts/
#: audit_broadcast_hints.py): hints on them may ride only
#: aggregate/limit-reduced subtrees; otherwise AQE decides.
DIM_TABLES: frozenset[str] = frozenset({"region", "nation"})

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Memoized exact row counts per resolved table path. Safe because
#: the driver's testdata directories are immutable within a run;
#: callers that mutate tables must not use this.
_ROW_COUNT_CACHE: dict[str, int] = {}


def _fs_from_uri(uri: str):
    """Seam for ``pyarrow.fs.FileSystem.from_uri`` — the one dispatch
    point from a URI string to a filesystem handle. Kept as a
    module-level function so tests can substitute a non-local
    filesystem (``FileSystem`` is an immutable Cython type, so the
    classmethod itself cannot be monkeypatched)."""
    from pyarrow import fs as pafs

    return pafs.FileSystem.from_uri(uri)


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of a base table from parquet FOOTER metadata —
    no Spark job, no scan. Every parquet footer carries ``num_rows``;
    summing footers over the part files is exact (this is what
    Spark's own ``LocalTableScan``-free count rewrite reads too).

    Used by operators whose PLAN SHAPE depends on corpus size (the
    corpus-adaptive LSH bit-width, deterministic id splits): a plain
    ``df.count()`` there costs a full table scan per query build —
    real money at 100 TB — while the footer read is O(#files)
    driver-side metadata. Memoized per resolved path so the six
    ``_adaptive_buckets`` consumers pay it once per process.
    """
    path = table_path(sf_dir, name)
    # URI paths (s3://, file://, gs://) must not be abspath-mangled.
    key = path if "://" in path else os.path.abspath(path)
    if key not in _ROW_COUNT_CACHE:
        import pyarrow.parquet as pq

        fs, files = _list_parquet_files(path)
        _ROW_COUNT_CACHE[key] = sum(
            pq.read_metadata(f, filesystem=fs).num_rows for f in files
        )
    return _ROW_COUNT_CACHE[key]


def _list_parquet_files(path: str):
    """Resolve ``path`` through ``pyarrow.fs`` and list its parquet
    part files — object-store-safe (the same listing works for local
    paths, ``file://`` URIs, and the schemes ``pyarrow.fs`` dispatches
    natively: ``s3://``, ``gs://``, ``hdfs://``), where the old
    ``os.walk`` only ever saw the local disk. Hadoop's ``s3a://`` /
    ``s3n://`` spellings — what ``sources/s3.py`` feeds Spark — are
    translated to ``s3://`` first, since ``FileSystem.from_uri`` does
    not recognize them (they are Hadoop connector names, not Arrow
    ones). Hidden and in-flight entries (any path segment starting
    with ``_`` or ``.`` — Spark's ``_temporary`` commit dirs,
    ``_SUCCESS`` markers, dotfiles) are skipped so an aborted write
    can never skew the corpus-adaptive plan constants that ride this
    count. Returns ``(filesystem, [paths])`` sorted for determinism.
    """
    from pyarrow import fs as pafs

    for hadoop_scheme in ("s3a://", "s3n://"):
        if path.startswith(hadoop_scheme):
            path = "s3://" + path[len(hadoop_scheme):]
            break
    if "://" in path:
        filesystem, fs_path = _fs_from_uri(path)
    else:
        filesystem, fs_path = pafs.LocalFileSystem(), os.path.abspath(path)
    info = filesystem.get_file_info(fs_path)
    if info.type != pafs.FileType.Directory:
        return filesystem, [fs_path]
    base_len = len(fs_path.rstrip("/")) + 1
    sel = pafs.FileSelector(fs_path, recursive=True)
    files = sorted(
        fi.path
        for fi in filesystem.get_file_info(sel)
        if fi.type == pafs.FileType.File
        and fi.path.endswith(".parquet")
        and not any(
            seg.startswith(("_", "."))
            for seg in fi.path[base_len:].split("/")
        )
    )
    return filesystem, files


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazily read one table; Catalyst prunes columns / pushes filters.

    ``events.ts`` is canonicalized to TIMESTAMP_NTZ — wall-clock
    instants identical to what DuckDB's (timezone-naive) reader sees,
    whatever physical form the generator wrote:

    - TIMESTAMP(MICROS, adjusted=false) → read natively as NTZ;
    - TIMESTAMP(NANOS) → with ``spark.sql.legacy.parquet.nanosAsLong``
      it scans as long and is truncated to micros here (what DuckDB's
      reader does too);
    - tz-adjusted TIMESTAMP → cast to NTZ under the UTC session pin.

    The confs are runtime-settable SQL confs, applied here rather
    than at session build, so any caller-supplied SparkSession
    (the driver builds its own) reads identically without
    pre-configuration.
    """
    # UTC pins timestamp-literal parsing, NTZ↔LTZ casts, and
    # date_trunc to the same instants the naive oracles compute.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        elif dt == "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df
