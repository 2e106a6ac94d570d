"""Benchmark of the postgres-s3-etl-spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --diff RECORD_A RECORD_B

One process, one closed-loop client, Spark ``local[4]``. A run
generates its inputs from ``--seed`` and computes the DuckDB oracle of
every operation before timing starts, measures set-up (session start
plus warm-up, sampled ``SETUP_SAMPLES`` times), then makes a fixed
number of passes over the workload and checks every result. The last
line of stdout is the result JSON; ``--trace 1`` reports the per-layer
metrics instead of the end-to-end ones. Each run also writes a record
(per-operation timings, Spark counters, spans) under ``.perfbench/out``;
``--diff`` compares the deterministic counters of two traced records.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import datagen
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"

#: The host this benchmark is sized for: 4 cores, 15 GiB shared RAM.
CPUS = "4"
DRIVER_MEM = "4g"
#: Heap committed up front with a fixed young generation: G1 then
#: neither resizes the heap nor the young generation on pause-time
#: feedback, so the JVM's peak RSS follows the work done (measured:
#: 1836-1864 MB over three etl_dags seeds, against 1617-2367 MB with
#: G1's adaptive sizing).
JVM_OPTS = "-Xms4g -Xmn512m"
SETUP_SAMPLES = 2
#: Counters that repeat exactly for the same inputs and code: those
#: summed over an operation's job groups, then the rest. Shuffle bytes
#: are not among them: where a shuffle's input order depends on fetch
#: order, its compressed size moves by a fraction of a percent.
JOB_COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_records", "shuffle_write_records")
COUNTERS = JOB_COUNTERS + ("rows_in", "bytes_out", "files_out", "persisted_rdds")

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "rows/s",
    "queries_per_min": "1/min",
    "jvm_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "catalog.load_table.calls": "count",
    "catalog.load_table.s": "s",
    "catalog.table_row_count.calls": "count",
    "catalog.table_row_count.s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.plan_s": "s",
    "operators.exec_s": "s",
    "operators.exec_jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.persisted_rdds": "count",
    "operators.storage_mb": "MB",
    "sources.read_csv.s": "s",
    "sources.rows_in": "count",
    "sources.bytes_in": "bytes",
    "sinks.write_parquet.s": "s",
    "sinks.export_csv.s": "s",
    "sinks.bytes_out": "bytes",
    "sinks.files_out": "count",
    "plans.extract.s": "s",
    "plans.transform.s": "s",
    "plans.load.s": "s",
    "plans.retries": "count",
    "plans.failed_tasks": "count",
    "host.canary_ms": "ms",
    "host.stalled_ops": "count",
    "trace.overhead_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure(work: Path) -> None:
    """Fit the engine to this host before pyspark or the engine is
    imported: the session module reads these at import time, and the
    Python workers Spark forks need the repository on their path."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(0, str(ROOT))


def start_spark(work: Path):
    """``session.get_spark`` with the run's work locations."""
    from postgres_s3_etl_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} {JVM_OPTS}",
            "spark.ui.showConsoleProgress": "false",
            # Keep every job and stage of a run in the status store, so
            # a traced operation's stages are all there to be summed.
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark, then end its JVM and wait until it has exited: the
    JVM quits when its stdin closes."""
    jvm_proc = spark.sparkContext._gateway.proc
    spark.stop()
    jvm_proc.stdin.close()
    jvm_proc.wait(timeout=60)


def set_up(work: Path, landing: str, tracer_on: bool):
    """One set-up sample: session start, then the warm-up."""
    from layers import Tracer

    t0 = time.perf_counter()
    spark = start_spark(work)
    t1 = time.perf_counter()
    tracer = Tracer(spark, enabled=tracer_on)
    if tracer_on:
        from postgres_s3_etl_spark import catalog
        from postgres_s3_etl_spark.sinks import files

        tracer.wrap(catalog, "load_table", "catalog.load_table")
        tracer.wrap(catalog, "table_row_count", "catalog.table_row_count")
        tracer.wrap(files, "export_csv", "sinks.export_csv")
    warm = workloads.warm_up(spark, tracer, landing, str(work / f"warm-{os.getpid()}"))
    t2 = time.perf_counter()
    return spark, tracer, warm, {"get_spark_s": t1 - t0, "warmup_s": t2 - t1}


def probe_setup(work: Path, landing: str) -> dict:
    """A set-up sample in a new process, as a batch run pays it."""
    proc = subprocess.run(
        [sys.executable, str(Path(__file__)), "--setup-probe", str(work), landing],
        capture_output=True, text=True, timeout=120, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; below 20 samples that percentile would not be a
    tail, so the maximum is reported (percentile 100)."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def end_to_end(ops: list[dict], rows_per_pass: int, passes: int, setup: list[dict], rss_mb: float) -> dict:
    lat = [r["latency_s"] for r in ops if r["ok"]]
    busy = sum(r.get("latency_s", 0.0) for r in ops)
    correct_queries = sum(r.get("queries_ok", int(r["ok"])) for r in ops)
    tail_s, _ = tail(lat) if lat else (0.0, 0.0)
    return {
        "setup_s": statistics.median(s["get_spark_s"] + s["warmup_s"] for s in setup),
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "op_tail_s": tail_s,
        "rows_per_s": rows_per_pass * passes / busy if busy else 0.0,
        "queries_per_min": 60.0 * correct_queries / busy if busy else 0.0,
        "jvm_rss_mb": rss_mb,
    }


def overhead(pair: list[dict]) -> float:
    """Median over operations of traced / untraced latency, minus 1,
    from one untraced and one traced warm pass of the same work."""
    untraced = {r["name"]: r["latency_s"] for r in pair if not r["traced"] and r["ok"]}
    ratios = [r["latency_s"] / untraced[r["name"]] for r in pair
              if r["traced"] and r["ok"] and r["name"] in untraced]
    return statistics.median(ratios) - 1.0


def per_layer(traced: list[dict], overhead_pair: list[dict], sec: dict, calls: dict,
              setup: dict, canaries: list[float], stalls: int) -> dict:
    def total(roles: tuple[str, ...], key: str) -> float:
        return sum(r.get(role, {}).get(key, 0) for r in traced for role in roles)

    ops = ("build", "exec")
    return {
        "session.get_spark_s": setup["get_spark_s"],
        "session.warmup_s": setup["warmup_s"],
        "catalog.load_table.calls": calls.get("catalog.load_table", 0),
        "catalog.load_table.s": sec.get("catalog.load_table", 0.0),
        "catalog.table_row_count.calls": calls.get("catalog.table_row_count", 0),
        "catalog.table_row_count.s": sec.get("catalog.table_row_count", 0.0),
        "operators.build_s": sec.get("operators.build", 0.0),
        "operators.build_jobs": total(("build",), "jobs"),
        "operators.plan_s": sec.get("operators.plan", 0.0),
        "operators.exec_s": sec.get("operators.exec", 0.0),
        "operators.exec_jobs": total(("exec",), "jobs"),
        "operators.stages": total(ops, "stages"),
        "operators.tasks": total(ops, "tasks"),
        "operators.shuffle_read_mb": total(ops, "shuffle_read_bytes") / 2**20,
        "operators.shuffle_write_mb": total(ops, "shuffle_write_bytes") / 2**20,
        "operators.spill_mb": total(ops, "spill_bytes") / 2**20,
        "operators.executor_run_s": total(ops, "executor_run_ms") / 1e3,
        "operators.executor_cpu_s": total(ops, "executor_cpu_ns") / 1e9,
        "operators.gc_s": total(ops, "gc_ms") / 1e3,
        "operators.persisted_rdds": traced[-1]["persisted_rdds"],
        "operators.storage_mb": max(r["storage_mb"] for r in traced),
        "sources.read_csv.s": sec.get("sources.read_csv", 0.0),
        "sources.rows_in": total(("ingest",), "input_records"),
        "sources.bytes_in": total(("ingest",), "input_bytes"),
        "sinks.write_parquet.s": sec.get("sinks.write_parquet", 0.0),
        "sinks.export_csv.s": sec.get("sinks.export_csv", 0.0),
        "sinks.bytes_out": sum(r.get("bytes_out", 0) for r in traced),
        "sinks.files_out": sum(r.get("files_out", 0) for r in traced),
        "plans.extract.s": sec.get("plans.extract", 0.0),
        "plans.transform.s": sec.get("plans.transform", 0.0),
        "plans.load.s": sec.get("plans.load", 0.0),
        "plans.retries": sum(r.get("retries", 0) for r in traced),
        "plans.failed_tasks": sum(r.get("failed_tasks", 0) for r in traced),
        "host.canary_ms": statistics.median(canaries),
        "host.stalled_ops": stalls,
        "trace.overhead_frac": overhead(overhead_pair),
    }


def counters(records: list[dict]) -> dict:
    """The deterministic counters of each operation, keyed by
    ``<pass>:<operation>``."""
    out = {}
    for r in records:
        groups = [r.get(role, {}) for role in ("ingest", "build", "exec")]
        c = {k: sum(g.get(k, 0) for g in groups) for k in JOB_COUNTERS}
        c["rows_in"] = r.get("ingest", {}).get("input_records", 0)
        for k in ("bytes_out", "files_out", "persisted_rdds"):
            c[k] = r.get(k, 0)
        out[f"{r['pass_no']}:{r['name']}"] = c
    return out


def diff(path_a: str, path_b: str) -> int:
    a, b = (json.loads(Path(p).read_text())["counters"] for p in (path_a, path_b))
    lines = []
    for key in sorted(set(a) | set(b)):
        ca, cb = a.get(key, {}), b.get(key, {})
        for name in COUNTERS:
            if ca.get(name) != cb.get(name):
                lines.append(f"{key} {name}: {ca.get(name)} -> {cb.get(name)}")
    print("\n".join(lines) if lines else f"counters identical ({len(a)} operations)")
    return 1 if lines else 0


def run(args, work: Path) -> dict:
    from layers import jvm_peak_rss_mb, stalled

    w = workloads.WORKLOADS[args.workload]
    t = time.perf_counter()
    inputs = workloads.prepare(w, str(work / "data"), args.seed)
    warm_landing = str(work / "warm-landing")
    datagen.make_landing(warm_landing, args.seed, workloads.WARM_SF, workloads.LANDING_FILES)
    log(f"{w.name}: inputs and oracles ready in {time.perf_counter() - t:.1f}s ({inputs.rows} rows)")

    traced_run = bool(args.trace)
    setup = [] if traced_run else [probe_setup(work, warm_landing) for _ in range(SETUP_SAMPLES - 1)]
    spark, tracer, warm, main_setup = set_up(work, warm_landing, traced_run)
    setup.append(main_setup)

    passes = max(1, round(args.seconds / w.pass_s))
    # A traced run first repeats the untraced run's work with tracing on
    # (per-layer totals and counters), then makes one untraced and one
    # traced warm pass; their per-operation ratio is the overhead.
    plan = [True] * passes + [False, True] if traced_run else [False] * passes
    records: list[dict] = []
    try:
        for k, traced in enumerate(plan):
            tracer.active = traced
            recs = workloads.run_pass(w, spark, tracer, inputs, str(work / f"pass-{k}"), k)
            for r in recs:
                r["traced"] = traced
            records += recs
            if k == passes - 1:
                layer_seconds, layer_calls = dict(tracer.seconds), dict(tracer.calls)
        tracer.active = False
        rss = jvm_peak_rss_mb()
    finally:
        tracer.unwrap()
        stop(spark)

    flags = stalled([r["canary_ms"] for r in records])
    for r, f in zip(records, flags):
        r["stalled"] = f
    for r in records:
        if not r["ok"]:
            log(f"FAILED {r['name']} (pass {r['pass_no']}): {r.get('error', '')}")
    measured = [r for r in records if r["pass_no"] < passes]
    if traced_run:
        overhead_pair = [r for r in records if r["pass_no"] >= passes]
        metrics = per_layer(warm + measured, overhead_pair, layer_seconds, layer_calls, main_setup,
                            [r["canary_ms"] for r in records], sum(flags))
        units = LAYER_UNITS
    else:
        metrics = end_to_end(measured, inputs.rows, passes, setup, rss)
        units = E2E_UNITS
    lat = [r["latency_s"] for r in measured if r["ok"]]
    if lat:
        log(f"{w.name}: {len(plan)} passes, {len(lat)} samples, tail = p{tail(lat)[1]:.1f}; "
            f"setup samples {[round(s['get_spark_s'] + s['warmup_s'], 2) for s in setup]}; "
            f"stalled ops {sum(flags)}")
    out_dir = WORK / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    record_path = out_dir / f"{w.name}-seed{args.seed}-trace{args.trace}.json"
    record_path.write_text(json.dumps({
        "workload": w.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "setup": setup, "metrics": metrics, "records": records,
        "counters": counters(measured) if traced_run else {}, "spans": tracer.spans,
    }, default=str))
    log(f"record written to {record_path.relative_to(ROOT)}")
    attempted = len(records)
    failed = sum(not r["ok"] for r in records)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--diff", nargs=2, metavar="RECORD")
    ap.add_argument("--setup-probe", nargs=2, metavar=("WORK", "LANDING"), help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if args.diff:
        return diff(*args.diff)
    for needed in ("postgres_s3_etl_spark/__init__.py", "__spark_entry__.py"):
        if not (ROOT / needed).is_file():
            log(f"cannot run: {needed} is missing from {ROOT}")
            return 2
    if args.setup_probe:
        work = Path(args.setup_probe[0])
        configure(work)
        spark, _, _, sample = set_up(work, args.setup_probe[1], False)
        stop(spark)
        print(json.dumps(sample))
        return 0
    if not args.workload:
        ap.error("--workload is required")

    work = WORK / f"run-{os.getpid()}"
    configure(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
