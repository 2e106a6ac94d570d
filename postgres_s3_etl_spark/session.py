"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` single-JVM; the same config block is
what we'd ship to a 1000-executor cluster — AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow on
(vectorized Python interop), UTC session timezone (matches the
DuckDB oracle and any sane warehouse), and a shuffle-partition count
sized to the environment rather than Spark's legacy default of 200.
"""

from __future__ import annotations

import functools
import os
import threading
from collections.abc import Callable, Hashable
from typing import Any, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

#: Configs that are correct at every scale. Cluster deploys override
#: shuffle partitions / memory via spark-submit; nothing here pins us
#: to local mode.
_BASE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Columnar parquet scans with pushdown are the hot path at 100 TB.
    "spark.sql.parquet.filterPushdown": "true",
    # Legacy-robustness: TIMESTAMP(NANOS) parquet (which Spark's
    # reader otherwise rejects) scans as long; the catalog converts.
    # Current testdata is plain micros, where this conf is inert.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # 128 MB input splits — the right granularity for large scans.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Broadcast anything under 64 MB: every TPC-H dim and the probe
    # sides of our similarity joins qualify, avoiding fact shuffles.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        os.environ.get("SPARK_GRAFT_CPUS", "32"),
    ),
    # Scale-adaptive shuffle granularity: AQE plans each shuffle at
    # 8x parallelism and coalesces DOWN by observed size (64 MB
    # advisory target), so per-partition volume stays bounded as
    # data grows 10-100x instead of growing linearly under a fixed
    # partition count. Small queries coalesce back to a handful of
    # tasks, so toy-scale latency is unaffected; big shuffles keep
    # the fine granularity that avoids per-task memory blow-ups
    # (observed: a fixed-32 sort-merge join OOMing at 10x sf0.1).
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
        8 * int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ),
    # Local-mode heap: the driver JVM IS the executor, so this is the
    # whole cluster's memory. 16g OOMed the round-6 sf10 spot-check
    # (graph_triangle_count's O(E) edge checkpoint + shuffle pressure
    # at ~120M edges, java.lang.OutOfMemoryError in localCheckpoint);
    # 48g matches the documented 128 GiB host with headroom for the
    # OS and the DuckDB oracle process. On a real cluster this knob
    # is per-executor and set by spark-submit, not here.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "postgres-s3-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no
    cluster manager is configured; on a real cluster, pass ``None``
    and let spark-submit's ``--master`` win.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_BASE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class SessionMemo:
    """Get-or-build memo for state that the queries of one Spark
    application share. Entries are keyed ``(applicationId, key)``;
    each key is built at most once, even when threads ask together.
    Locks are per key, so builds of other keys and nested calls never
    wait. A build that raises leaves no entry. The first call from a
    new application drops the earlier one's entries."""

    def __init__(self) -> None:
        self._lock = threading.Lock()  # guards the three fields below
        self._app: str | None = None
        self._entries: dict[tuple[str, Hashable], Any] = {}
        self._key_locks: dict[tuple[str, Hashable], threading.Lock] = {}

    def get(
        self, spark: SparkSession, key: Hashable, build: Callable[[], T]
    ) -> T:
        full = (spark.sparkContext.applicationId, key)
        with self._lock:
            if full[0] != self._app:
                self._app, self._entries, self._key_locks = full[0], {}, {}
            key_lock = self._key_locks.setdefault(full, threading.Lock())
        with key_lock:
            with self._lock:
                if full in self._entries:
                    return self._entries[full]
            value = build()
            with self._lock:
                if full[0] == self._app:
                    self._entries[full] = value
            return value

    def snapshot(self) -> dict[tuple[str, Hashable], Any]:
        with self._lock:
            return dict(self._entries)

    def restore(self, snapshot: dict[tuple[str, Hashable], Any]) -> None:
        """Keys built since ``snapshot`` are built again on next use."""
        with self._lock:
            self._entries = dict(snapshot)


#: The memo that every ``session_memoized`` function shares.
SESSION_MEMO = SessionMemo()


def session_memoized(fn: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``fn(spark, ...)`` in ``SESSION_MEMO``, keyed by ``fn``
    and the other arguments as passed."""

    @functools.wraps(fn)
    def memoized(spark: SparkSession, *args: Any, **kwargs: Any) -> T:
        key = (fn, args, tuple(sorted(kwargs.items())))
        return SESSION_MEMO.get(spark, key, lambda: fn(spark, *args, **kwargs))

    return memoized
