"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Query/oracle pairs live next to their operators in
``postgres_s3_etl_spark/operators/*.py`` (each module exports
``QUERIES`` and ``ORACLES``); this file just aggregates them.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: Operator modules contributing QUERIES / ORACLES dicts.
_OPERATOR_MODULES = (
    "postgres_s3_etl_spark.operators.etl",
    "postgres_s3_etl_spark.operators.analytics",
    "postgres_s3_etl_spark.operators.events",
    "postgres_s3_etl_spark.operators.dedup",
    "postgres_s3_etl_spark.operators.similarity",
    "postgres_s3_etl_spark.operators.text_analysis",
    "postgres_s3_etl_spark.operators.tokenizer",
    "postgres_s3_etl_spark.operators.unigram",
    "postgres_s3_etl_spark.operators.training",
    "postgres_s3_etl_spark.operators.temporal",
    "postgres_s3_etl_spark.operators.multimodal",
    "postgres_s3_etl_spark.operators.flac_codec",
    "postgres_s3_etl_spark.operators.profiling",
    "postgres_s3_etl_spark.operators.cdc",
    "postgres_s3_etl_spark.operators.entity",
    "postgres_s3_etl_spark.operators.sql_surface",
    "postgres_s3_etl_spark.operators.tpch",
    "postgres_s3_etl_spark.operators.timeseries",
    "postgres_s3_etl_spark.operators.sampling",
    "postgres_s3_etl_spark.operators.graph",
    "postgres_s3_etl_spark.operators.quality",
    "postgres_s3_etl_spark.operators.sharding",
    "postgres_s3_etl_spark.operators.scd",
    "postgres_s3_etl_spark.operators.clustering",
    "postgres_s3_etl_spark.operators.cogroup",
    "postgres_s3_etl_spark.operators.curation",
    "postgres_s3_etl_spark.operators.chunking",
    "postgres_s3_etl_spark.operators.layout",
    "postgres_s3_etl_spark.streaming.events_stream",
)


def _collect(attr: str) -> dict:
    out: dict = {}
    for mod_name in _OPERATOR_MODULES:
        try:
            mod = importlib.import_module(mod_name)
        except ImportError:
            continue
        out.update(getattr(mod, attr, {}))
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from postgres_s3_etl_spark.operators.etl import QUERIES

    return QUERIES["etl_best_performing_product"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _collect("QUERIES")


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each query (same column
    names/aliases; omitted for non-SQL-expressible ops)."""
    return _collect("ORACLES")
