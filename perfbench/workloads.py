"""The workloads: inputs, oracles, and one pass of each.

Every engine call goes through a public function of the package;
memo state is controlled through inputs only: each pass reads through
a directory that no earlier pass has used, so every path-keyed memo
and Spark's file-listing cache start cold, as in one scheduled batch
run.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass

import datagen
import oracle

#: Relational queries: sub-second to 2 s reads, where the per-query
#: driver floor (catalog reads, planning) is a large share. The three
#: ETL transforms are left to ``etl_dags``, which runs them in its DAGs.
QUERY_MIX = (
    "q_pricing_summary",
    "q_top_revenue_orders",
    "q_regional_volume",
    "q_top_parts_per_brand",
    "q_lineitem_window_running",
    "q_tpch03_shipping_priority",
    "q_tpch05_local_supplier_volume",
    "q_tpch08_market_share",
    "q_tpch13_customer_distribution",
    "q_tpch18_large_volume_customer",
    "q_tpch21_waiting_orders",
    "q_customer_rfm",
    "q_events_sessionize",
)

#: Execution-heavy queries: eager build-time jobs, localCheckpoint
#: materialization, session memos, shuffles and Python lanes.
HEAVY_OPS = (
    "graph_components",
    "graph_pagerank",
    "dedup_minhash_lsh",
    "dedup_cc_keepset",
    "text_bpe_train",
    "q_order_billing_cogroup",
    "mm_image_hist_equalize",
    "mm_audio_mfcc",
)

#: File each reference DAG exports -> the oracle that checks it.
ETL_EXPORTS = {
    "agg_public_holiday.csv": "etl_agg_public_holiday",
    "agg_shipments.csv": "etl_agg_shipments",
    "best_performing_product.csv": "etl_best_performing_product",
}
LANDING_FILES = {"orders": 4, "lineitem": 8, "part": 2}

#: Scale of the tiny landing zone the set-up warm-up ingests.
WARM_SF = 0.001


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    #: Nominal seconds of one pass on 4 cores. A run makes
    #: ``max(1, round(seconds / pass_s))`` passes, so every run of a
    #: workload at one ``--seconds`` measures the same work.
    pass_s: float
    queries: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload("etl_dags", sf=0.1, pass_s=15.0),
        Workload("queries", sf=0.005, pass_s=45.0, queries=QUERY_MIX + HEAVY_OPS),
    )
}


@dataclass
class Inputs:
    data_dir: str
    rows: int
    expected: dict


def prepare(w: Workload, data_dir: str, seed: int) -> Inputs:
    """Generate the workload's inputs from ``seed`` and compute every
    oracle's result key with DuckDB, before any timing starts."""
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    if w.name == "etl_dags":
        rows = datagen.make_landing(data_dir, seed, w.sf, LANDING_FILES)
        con = oracle.connect(oracle.csv_sources(data_dir, datagen.LANDING_SCHEMAS))
        names = ETL_EXPORTS.values()
    else:
        rows = datagen.make_tables(data_dir, seed, w.sf)
        con = oracle.connect(oracle.parquet_sources(data_dir, rows))
        names = w.queries
    try:
        expected = {n: oracle.expected(con, oracles[n]) for n in names}
    finally:
        con.close()
    return Inputs(data_dir, sum(rows.values()), expected)


def fresh_dir(data_dir: str, pass_dir: str) -> str:
    """A new directory of symlinks to the generated tables."""
    os.makedirs(pass_dir)
    for name in os.listdir(data_dir):
        os.symlink(os.path.join(data_dir, name), os.path.join(pass_dir, name))
    return pass_dir


def _after_op(spark, tracer, rec: dict, op_id: str, roles: tuple[str, ...]) -> dict:
    """Drop cached tables, then attach the Spark metrics of each job
    group the operation ran (``rec[role]``) and what stays persisted."""
    spark.catalog.clearCache()
    for role in roles:
        rec[role] = tracer.group_stats(f"{op_id}:{role}")
    rec["persisted_rdds"], rec["storage_mb"] = tracer.storage()
    return rec


def query_op(spark, tracer, name: str, sf_dir: str, expected, op_id: str) -> dict:
    """Build, (traced: plan,) collect and check one query."""
    from __spark_entry__ import queries

    fn = queries()[name]
    rec = {"name": name, "ok": False}
    try:
        tracer.set_group(op_id + ":build")
        t0 = time.perf_counter()
        with tracer.span("operators.build", query=name):
            df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        tracer.set_group(op_id + ":exec")
        if tracer.active:
            with tracer.span("operators.plan", query=name):
                df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        with tracer.span("operators.exec", query=name):
            rows = df.collect()
        t3 = time.perf_counter()
        rec.update(latency_s=t3 - t0, build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
        got = oracle.result_key(df.columns, [tuple(r) for r in rows])
        rec["ok"] = expected is None or got == expected
        if not rec["ok"]:
            rec["error"] = f"result {got} != oracle {expected}"
    except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
        rec["error"] = traceback.format_exc(limit=3)
    return _after_op(spark, tracer, rec, op_id, ("build", "exec"))


def ingest(spark, tracer, landing: str, staging: str, tables=tuple(datagen.LANDING_SCHEMAS)) -> None:
    """Landing CSV -> staged parquet, one table at a time."""
    from postgres_s3_etl_spark.sinks.files import write_parquet
    from postgres_s3_etl_spark.sources.files import read_csv

    for table in tables:
        with tracer.span("sources.read_csv", table=table):
            df = read_csv(spark, os.path.join(landing, table), schema=datagen.ddl(table))
        with tracer.span("sinks.write_parquet", table=table):
            write_parquet(df, os.path.join(staging, f"{table}.parquet"))


def _dir_output(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's markers excluded."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def record_plan_runs(tracer, runs) -> None:
    """Per-task seconds from the pipeline's own ``TaskRun`` report."""
    for r in runs:
        tracer.add(f"plans.{r.name}", r.seconds)


def etl_op(spark, tracer, landing: str, pass_dir: str, expected: dict, op_id: str) -> dict:
    """One pass of the paper's pipeline: ingest the landing zone, then
    run the three reference DAGs and check their exported CSVs."""
    from postgres_s3_etl_spark.plans.etl_dags import run_all

    staging, export = os.path.join(pass_dir, "staging"), os.path.join(pass_dir, "export")
    rec = {"name": "etl_pass", "ok": False}
    try:
        tracer.set_group(op_id + ":ingest")
        t0 = time.perf_counter()
        ingest(spark, tracer, landing, staging)
        t1 = time.perf_counter()
        tracer.set_group(op_id + ":exec")
        with tracer.span("plans.run_all"):
            reports = run_all(spark, staging, export)
        t2 = time.perf_counter()
        rec.update(latency_s=t2 - t0, ingest_s=t1 - t0, dags_s=t2 - t1)
        runs = [r for rs in reports.values() for r in rs]
        record_plan_runs(tracer, runs)
        rec["retries"] = sum(max(0, r.attempts - 1) for r in runs)
        rec["failed_tasks"] = sum(r.state != "success" for r in runs)
        mismatched = [
            name for f, name in ETL_EXPORTS.items()
            if rec["failed_tasks"]
            or oracle.csv_result(os.path.join(export, f)) != expected[name]
        ]
        rec["ok"] = not mismatched
        rec["queries_ok"] = len(ETL_EXPORTS) - len(mismatched)
        if mismatched:
            rec["error"] = f"mismatch or failed task: {mismatched} {[r for r in runs if r.error]}"
        staged, exported = _dir_output(staging), _dir_output(export)
        rec["files_out"] = staged[0] + exported[0]
        rec["bytes_out"] = staged[1] + exported[1]
    except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
        rec["error"] = traceback.format_exc(limit=3)
    return _after_op(spark, tracer, rec, op_id, ("ingest", "exec"))


def warm_up(spark, tracer, landing: str, out_dir: str) -> list[dict]:
    """Set-up work a batch run pays before its first operation: one
    tiny trip through every layer the workloads use (CSV ingest of
    ``orders``, its reference DAG, a footer row count, one planned and
    collected query), so no measured operation is the first to load
    those code paths."""
    from postgres_s3_etl_spark.catalog import table_row_count
    from postgres_s3_etl_spark.plans.etl_dags import build_etl_dag

    staging, export = os.path.join(out_dir, "staging"), os.path.join(out_dir, "export")
    ingest(spark, tracer, landing, staging, ("orders",))
    with tracer.span("plans.run_all"):
        runs = build_etl_dag(spark, "orders_ETL", staging, export).run()
    record_plan_runs(tracer, runs)
    table_row_count(staging, "orders")
    rec = query_op(spark, tracer, "etl_agg_public_holiday", staging, None, "warmup")
    failed = [r for r in runs if r.state != "success"]
    if failed or not rec["ok"]:
        raise RuntimeError(f"warm-up failed: {failed} {rec.get('error')}")
    return [rec]


def run_pass(w: Workload, spark, tracer, inputs: Inputs, pass_dir: str, k: int) -> list[dict]:
    """One pass; each operation is preceded by a canary reading."""
    from layers import canary_ms

    op_prefix = f"{w.name}:{k}"
    if w.name == "etl_dags":
        c = canary_ms()
        rec = etl_op(spark, tracer, inputs.data_dir, pass_dir, inputs.expected, op_prefix)
        return [dict(rec, canary_ms=c, pass_no=k)]
    sf_dir = fresh_dir(inputs.data_dir, pass_dir)
    out = []
    for i, name in enumerate(w.queries):
        c = canary_ms()
        rec = query_op(spark, tracer, name, sf_dir, inputs.expected[name], f"{op_prefix}:{i}")
        out.append(dict(rec, canary_ms=c, pass_no=k))
    return out
