"""Per-layer measurement taken from outside the engine.

Three sources, none of them inside ``postgres_s3_etl_spark``:

- spans the benchmark records around its own calls into the engine's
  public functions, and around public functions it re-binds for the
  traced run (``catalog.load_table``, ``catalog.table_row_count``,
  ``sinks.files.export_csv``);
- Spark's status store, read per job group: every engine call runs
  under ``setJobGroup`` so the jobs, stages and task metrics it caused
  can be summed afterwards;
- the host: the driver JVM's peak RSS and a fixed CPU kernel timed
  between operations (the stall canary).
"""

from __future__ import annotations

import contextlib
import gc
import os
import statistics
import sys
import time

MB = 1024.0 * 1024.0

#: Stage fields summed per job group: status-store getter -> record key.
STAGE_FIELDS = {
    "numTasks": "tasks",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadRecords": "shuffle_read_records",
    "shuffleWriteRecords": "shuffle_write_records",
    "diskBytesSpilled": "spill_bytes",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputRecords": "input_records",
    "inputBytes": "input_bytes",
}


class Tracer:
    """Span and counter recorder. While inactive every method is a
    no-op, so an untraced pass executes the engine calls and nothing
    else."""

    def __init__(self, spark=None, enabled: bool = False):
        #: ``enabled``: the run is traced (wrappers are installed);
        #: ``active``: record now. A traced run switches ``active`` off
        #: for its untraced passes.
        self.enabled = enabled
        self.active = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.seconds: dict[str, float] = {}
        self.calls: dict[str, int] = {}
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.add(name, rec["end"] - rec["start"])

    def add(self, name: str, seconds: float) -> None:
        if not self.active:
            return
        self.seconds[name] = self.seconds.get(name, 0.0) + seconds
        self.calls[name] = self.calls.get(name, 0) + 1

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call of the public function ``module.attr``,
        including calls through modules of the engine that imported it
        by name."""
        if not self.enabled:
            return
        original = getattr(module, attr)

        def timed(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("postgres_s3_etl_spark") and (
                getattr(mod, attr, None) is original
            ):
                setattr(mod, attr, timed)
                self._restore.append((mod, attr, original))

    def unwrap(self) -> None:
        for mod, attr, original in reversed(self._restore):
            setattr(mod, attr, original)
        self._restore.clear()

    # -- Spark status store -----------------------------------------
    def set_group(self, group: str) -> None:
        if self.active:
            self.spark.sparkContext.setJobGroup(group, group)

    def group_stats(self, group: str) -> dict:
        """Jobs, stages and summed stage metrics of one job group, read
        once every job of the group has reached a final state."""
        out = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS.values()}}
        if not self.active:
            return out
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.monotonic() + 30.0
        for jid in job_ids:
            job = store.job(jid)
            while job.status().toString() == "RUNNING" and time.monotonic() < deadline:
                time.sleep(0.01)
                job = store.job(jid)
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                stage = store.lastStageAttempt(stage_ids.apply(i))
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for getter, key in STAGE_FIELDS.items():
                    out[key] += int(getattr(stage, getter)())
        return out

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk), read
        after a Python and a JVM garbage collection and once Spark's
        cleaner has unpersisted every unreachable RDD, so the count is
        what memos and live frames actually pin."""
        if not self.active:
            return 0, 0.0
        jsc = self.spark.sparkContext._jsc
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        count, stable, deadline = -1, 0, time.monotonic() + 2.0
        while stable < 3 and time.monotonic() < deadline:
            time.sleep(0.02)
            now = int(jsc.getPersistentRDDs().size())
            stable, count = (stable + 1, now) if now == count else (0, now)
        infos = jsc.sc().getRDDStorageInfo()
        return count, sum(int(i.memSize()) + int(i.diskSize()) for i in infos) / MB


def canary_ms() -> float:
    """Wall time of a fixed single-threaded CPU kernel. It does the
    same work every call, so a slow reading means the host, not the
    engine, was slow."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(150_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1e3


def stalled(canaries: list[float]) -> list[bool]:
    """Mark each reading above twice the run's median."""
    if not canaries:
        return []
    limit = 2.0 * statistics.median(canaries)
    return [c > limit for c in canaries]


def jvm_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the JVM child of this process."""
    me = os.getpid()
    peak_kb = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            comm, ppid = stat[stat.index("(") + 1: stat.rindex(")")], int(stat[stat.rindex(")") + 2:].split()[1])
            if ppid != me or comm != "java":
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except (OSError, ValueError):
            continue
    return peak_kb / 1024.0
