"""Pipeline orchestration: Airflow-DAG parity (SURVEY.md §2.1/§3)."""

import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest

from postgres_s3_etl_spark.plans.pipeline import Pipeline, Task, TaskRun
from postgres_s3_etl_spark.session import SessionMemo
from tests.conftest import SF_DIR


def test_linear_dag_order_and_context():
    pipe = Pipeline("demo")
    order = []
    a = Task("extract", lambda ctx: order.append("e") or 1)
    b = Task("transform", lambda ctx: order.append("t") or ctx["extract"] + 1)
    c = Task("load", lambda ctx: order.append("l") or ctx["transform"] + 1)
    a >> b >> c
    pipe.add(a, b, c)
    report = pipe.run()
    assert order == ["e", "t", "l"]
    assert [r.state for r in report] == ["success"] * 3


def test_retries_then_success():
    attempts = {"n": 0}

    def flaky(ctx):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    pipe = Pipeline("retry")
    pipe.add(Task("flaky", flaky, retries=2))
    (run,) = pipe.run()
    assert run.state == "success" and run.attempts == 3


def test_failure_skips_downstream():
    pipe = Pipeline("fail")
    a = Task("extract", lambda ctx: 1, retries=0)
    b = Task("transform", lambda ctx: 1 / 0, retries=1)
    c = Task("load", lambda ctx: "never", retries=0)
    a >> b >> c
    pipe.add(a, b, c)
    states = {r.name: r.state for r in pipe.run()}
    assert states == {"extract": "success", "transform": "failed", "load": "skipped"}
    failed = next(r for r in pipe.run() if r.name == "transform")
    assert failed.attempts == 2  # 1 try + 1 retry


#: File each reference DAG exports -> the oracle of its etl_* query.
_EXPORTS = {
    "agg_public_holiday.csv": "etl_agg_public_holiday",
    "agg_shipments.csv": "etl_agg_shipments",
    "best_performing_product.csv": "etl_best_performing_product",
}


def _result(duck, sql: str) -> tuple[int, list[str], str]:
    from scripts.check_correctness import _hash_rows

    res = duck.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return len(rows), sorted(cols), _hash_rows(cols, rows)


def test_reference_dags_end_to_end(spark, duck, tmp_path):
    """All three reference DAGs run extract>>transform>>load and land
    a CSV per analytics table (reference load() S3-key parity), each
    equal by value to the DuckDB oracle of its etl_* query."""
    import __spark_entry__ as e
    from postgres_s3_etl_spark.plans.etl_dags import run_all

    reports = run_all(spark, SF_DIR, str(tmp_path))
    assert list(reports) == ["orders_ETL", "shipments_ETL", "reviews_ETL"]
    for dag_id, report in reports.items():
        assert [r.state for r in report] == ["success"] * 3, dag_id
    assert sorted(os.listdir(tmp_path)) == sorted(_EXPORTS)
    for f, name in _EXPORTS.items():
        got = _result(duck, f"SELECT * FROM read_csv('{tmp_path / f}', header=true)")
        assert got == _result(duck, e.oracle_sql()[name]), f


def test_missing_staged_table_fails_only_its_dag(spark, tmp_path):
    """A staging dir without ``part``: reviews_ETL's extract fails
    after its 3 attempts and skips the rest; the other DAGs export."""
    from postgres_s3_etl_spark.catalog import table_path
    from postgres_s3_etl_spark.plans.etl_dags import run_all

    staging, export = tmp_path / "staging", tmp_path / "export"
    staging.mkdir()
    for t in ("orders", "lineitem"):
        os.symlink(table_path(SF_DIR, t), table_path(str(staging), t))
    reports = run_all(spark, str(staging), str(export))
    reviews = {r.name: r for r in reports["reviews_ETL"]}
    assert (reviews["extract"].state, reviews["extract"].attempts) == ("failed", 3)
    assert "part.parquet" in reviews["extract"].error
    assert reviews["transform"].state == reviews["load"].state == "skipped"
    for dag_id in ("orders_ETL", "shipments_ETL"):
        assert [r.state for r in reports[dag_id]] == ["success"] * 3, dag_id
    assert sorted(os.listdir(export)) == ["agg_public_holiday.csv", "agg_shipments.csv"]


def test_extract_reads_a_uri_staging_path(spark, tmp_path):
    """A ``scheme://`` staging dir (what an object store hands over)
    is read like a local one, not skipped as a missing path."""
    from postgres_s3_etl_spark.plans.etl_dags import build_etl_dag

    ctx: dict = {}
    report = build_etl_dag(
        spark, "shipments_ETL", f"file://{SF_DIR}", str(tmp_path)
    ).run(ctx)
    assert [r.state for r in report] == ["success"] * 3
    assert sorted(ctx["extract"]) == ["lineitem", "orders"]


def test_run_all_jobs_run_in_the_callers_job_group(spark, tmp_path):
    """Every job the DAG threads start carries the caller's job group."""
    from postgres_s3_etl_spark.plans.etl_dags import run_all

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "run_all job-group inheritance")
    try:
        reports = run_all(spark, SF_DIR, str(tmp_path))
    finally:
        sc._jsc.clearJobGroup()
    assert all(r.state == "success" for rs in reports.values() for r in rs)
    grouped = set(tracker.getJobIdsForGroup("g"))
    assert len(grouped) >= 2 * len(reports)  # a footer read and an export per DAG
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    # Job ids are sequential and nothing else ran: no job escaped g.
    assert grouped == set(range(min(grouped), max(grouped) + 1))


def test_run_all_reraises_a_dag_thread_exception(spark, tmp_path, monkeypatch):
    from postgres_s3_etl_spark.plans import etl_dags

    def run(self, context=None):
        if self.name == "shipments_ETL":
            raise RuntimeError("boom in shipments_ETL")
        return []

    monkeypatch.setattr(Pipeline, "run", run)
    with pytest.raises(RuntimeError, match="boom in shipments_ETL"):
        etl_dags.run_all(spark, SF_DIR, str(tmp_path))


def test_run_all_reports_in_dag_order_whoever_finishes_first(
    spark, tmp_path, monkeypatch
):
    """The DAGs finish in reverse order; the report keeps ``_DAGS``
    order. The chained waits also prove the DAGs run concurrently: run
    one after another, orders_ETL would wait for a DAG not yet begun."""
    from postgres_s3_etl_spark.plans import etl_dags

    after = {"orders_ETL": "shipments_ETL", "shipments_ETL": "reviews_ETL"}
    done = {dag_id: threading.Event() for dag_id in etl_dags._DAGS}
    finished = []

    def run(self, context=None):
        if self.name in after:
            assert done[after[self.name]].wait(30), f"{self.name} waited alone"
        finished.append(self.name)
        done[self.name].set()
        return [TaskRun(self.name, "success", 1, 0.0)]

    monkeypatch.setattr(Pipeline, "run", run)
    reports = etl_dags.run_all(spark, SF_DIR, str(tmp_path))
    assert finished == list(reversed(etl_dags._DAGS))
    assert list(reports) == list(etl_dags._DAGS)
    assert [rs[0].name for rs in reports.values()] == list(etl_dags._DAGS)


def test_run_all_leaves_nothing_cached(spark, tmp_path):
    """No DAG pins a cache-manager entry past its run, so repeated
    runs over new staging paths do not grow the session's cache."""
    from postgres_s3_etl_spark.plans.etl_dags import run_all

    spark.catalog.clearCache()
    run_all(spark, SF_DIR, str(tmp_path))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_task_seconds_ignore_wall_clock_steps(monkeypatch):
    """A wall clock stepping back mid-task must not yield negative
    task times: TaskRun.seconds comes from a monotonic clock."""
    steps = iter([1e9])
    monkeypatch.setattr(time, "time", lambda: next(steps, 0.0))
    pipe = Pipeline("clock")
    pipe.add(Task("t", lambda ctx: None))
    (run,) = pipe.run()
    assert run.state == "success" and run.seconds >= 0


def test_dag_run_date_parameterizes_ingestion(spark, tmp_path):
    """run_date (Airflow logical-date parity) flows through the DAG
    into the transform's ingestion_date stamp."""
    from postgres_s3_etl_spark.operators.etl import QUERIES
    from postgres_s3_etl_spark.plans.etl_dags import build_etl_dag

    pipe = build_etl_dag(
        spark, "shipments_ETL", SF_DIR, str(tmp_path), run_date="2025-06-30"
    )
    ctx: dict = {}
    report = pipe.run(ctx)
    assert [r.state for r in report] == ["success"] * 3
    row = ctx["transform"].collect()[0]
    assert str(row.ingestion_date) == "2025-06-30"
    # default stays the reproducible constant the oracles expect
    default_row = QUERIES["etl_agg_shipments"](spark, SF_DIR).collect()[0]
    assert str(default_row.ingestion_date) == "2024-01-01"


# The session memo that DAG threads share. A fake session stands in
# for Spark (only its applicationId is read); no build runs a job.
def _session(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_memo_builds_a_key_once_when_threads_ask_together():
    memo, app, builds = SessionMemo(), _session("app-1"), []
    start = threading.Barrier(8)

    def ask(_):
        start.wait(5)
        return memo.get(
            app, "k", lambda: builds.append(1) or time.sleep(0.05) or [1]
        )

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(ask, range(8), timeout=10))
    finally:
        sys.setswitchinterval(old)
    assert len(builds) == 1 and all(g is got[0] for g in got)


def test_memo_builds_of_other_keys_never_wait():
    """While "a" builds, it makes a nested call for "b" and another
    thread builds "c"."""
    memo, app, out = SessionMemo(), _session("app-1"), {}
    c_built = threading.Event()

    def build_a():
        threading.Thread(
            target=memo.get, args=(app, "c", c_built.set), daemon=True
        ).start()
        return memo.get(app, "b", lambda: "b") + "a" * c_built.wait(5)

    t = threading.Thread(
        target=lambda: out.update(a=memo.get(app, "a", build_a)), daemon=True
    )
    t.start()
    t.join(10)
    assert not t.is_alive() and out == {"a": "ba"}


def test_memo_new_application_rebuilds_and_drops_the_old_entries():
    memo, builds = SessionMemo(), []
    for app in ("app-1", "app-1", "app-2"):
        memo.get(_session(app), "k", lambda: builds.append(app))
    assert builds == ["app-1", "app-2"]
    assert [app for app, _ in memo.snapshot()] == ["app-2"]


def test_memo_restore_makes_the_next_call_rebuild():
    """bench.py's cold-memo protocol: snapshot, build, restore."""
    memo, app, builds = SessionMemo(), _session("app-1"), []
    memo.get(app, "old", lambda: builds.append("old"))
    snap = memo.snapshot()
    memo.get(app, "new", lambda: builds.append("new"))
    memo.restore(snap)
    for key in ("new", "old"):
        memo.get(app, key, lambda: builds.append(key))
    assert builds == ["old", "new", "new"]


def test_memo_failed_build_leaves_no_entry():
    memo, app = SessionMemo(), _session("app-1")
    with pytest.raises(ZeroDivisionError):
        memo.get(app, "k", lambda: 1 // 0)
    assert memo.snapshot() == {}
    assert memo.get(app, "k", lambda: 7) == 7
