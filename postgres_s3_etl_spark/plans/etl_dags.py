"""The reference's three DAGs, rebuilt on the Spark-native pipeline.

Each builder returns a :class:`Pipeline` with the reference's exact
task topology — ``extract >> transform >> load`` with 2 retries
(reference airflow/dags/*_ETL.py:151-167). Extract lazily reads
exactly the staged tables its transform takes (``etl.INPUTS``), once;
a missing table fails the extract. Transform builds one of the parity
operators (operators/etl.py) from those frames, and load is the
single-file CSV export mirroring ``analytics_export/<user>/<table>.csv``.

``run_all`` runs the three DAGs concurrently on one session, one
thread each, as the reference's independent Airflow DAGs run side by
side. One DAG's driver-side planning then overlaps another's tasks.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from postgres_s3_etl_spark.operators import etl
from postgres_s3_etl_spark.plans.pipeline import Pipeline, Task, TaskRun
from postgres_s3_etl_spark.sinks.files import export_csv

_DAGS = {
    "orders_ETL": ("agg_public_holiday", etl.agg_public_holiday),
    "shipments_ETL": ("agg_shipments", etl.agg_shipments),
    "reviews_ETL": ("best_performing_product", etl.best_performing_product),
}


def build_etl_dag(
    spark: SparkSession,
    dag_id: str,
    sf_dir: str,
    export_dir: str,
    run_date: str | None = None,
) -> Pipeline:
    """Build one reference DAG. ``run_date`` parameterizes the run's
    logical date (Airflow ``{{ ds }}`` parity — the reference stamps
    CURRENT_TIMESTAMP, orders_ETL.py:107); None keeps the
    reproducible default used by the oracle-checked queries."""
    out_name, transform_fn = _DAGS[dag_id]
    pipe = Pipeline(dag_id)

    def extract(ctx: dict[str, Any]):
        # Declarative scans stand in for the reference's S3-CSV →
        # staging COPY; no data moves until the load task acts.
        return etl.load_inputs(spark, sf_dir, transform_fn)

    def transform(ctx: dict[str, Any]):
        return transform_fn(
            **ctx["extract"], run_date=run_date or etl.INGESTION_DATE
        )

    def load(ctx: dict[str, Any]):
        dest = os.path.join(export_dir, f"{out_name}.csv")
        return export_csv(ctx["transform"], dest)

    t_extract = Task("extract", extract)
    t_transform = Task("transform", transform)
    t_load = Task("load", load)
    t_extract >> t_transform >> t_load
    pipe.add(t_extract, t_transform, t_load)
    return pipe


def run_all(
    spark: SparkSession,
    sf_dir: str,
    export_dir: str,
    run_date: str | None = None,
) -> dict[str, list[TaskRun]]:
    """Run all three reference DAGs concurrently (optionally for a
    given logical ``run_date``); returns per-DAG task reports in
    ``_DAGS`` order. Every DAG thread inherits the caller's job group
    and local properties. An exception a DAG raises outside its task
    retries is re-raised here once every DAG has finished."""
    pipes = [
        build_etl_dag(spark, dag_id, sf_dir, export_dir, run_date)
        for dag_id in _DAGS
    ]
    # One wrapper per DAG: each copies the caller's local properties
    # into a Properties object of its own, so concurrent SQL
    # executions never share one ``spark.sql.execution.id`` slot.
    with ThreadPoolExecutor(max_workers=len(pipes)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(p.run)) for p in pipes
        ]
    return {p.name: f.result() for p, f in zip(pipes, futures)}
