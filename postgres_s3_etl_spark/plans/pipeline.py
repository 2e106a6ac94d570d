"""ETL pipeline orchestration — Airflow-DAG parity, Spark-native.

The reference orchestrates each pipeline as an Airflow DAG of three
PythonOperators with ``retries: 2`` and linear dependencies
(``extract_task >> transform_task >> load_task``, reference
airflow/dags/orders_ETL.py:151-167). Here the same contract is a
lightweight task graph: named tasks, ``>>`` dependency wiring,
per-task retries, topological execution, and a run report. Tasks
pass DataFrames lazily — "extract" builds scans, "transform" builds
plans, only "load" triggers an action — so the whole pipeline
compiles to as few Spark jobs as the sinks require.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter
from typing import Any


class Task:
    """A named pipeline step. ``fn(context)`` receives the shared
    context dict and its return value is stored under the task name."""

    def __init__(self, name: str, fn: Callable[[dict[str, Any]], Any], retries: int = 2):
        self.name = name
        self.fn = fn
        self.retries = retries
        self.upstream: set[str] = set()

    def __rshift__(self, other: "Task") -> "Task":
        """``a >> b``: run ``a`` before ``b`` (Airflow-parity wiring)."""
        other.upstream.add(self.name)
        return other

    def __repr__(self) -> str:  # pragma: no cover
        return f"Task({self.name!r}, upstream={sorted(self.upstream)})"


@dataclass
class TaskRun:
    name: str
    state: str  # success | failed | skipped
    attempts: int
    seconds: float
    error: str | None = None


@dataclass
class Pipeline:
    """A DAG of tasks executed in topological order with retries."""

    name: str
    tasks: dict[str, Task] = field(default_factory=dict)

    def task(
        self, name: str, retries: int = 2
    ) -> Callable[[Callable[[dict[str, Any]], Any]], Task]:
        """Decorator: register a function as a pipeline task."""

        def deco(fn: Callable[[dict[str, Any]], Any]) -> Task:
            t = Task(name, fn, retries=retries)
            self.add(t)
            return t

        return deco

    def add(self, *tasks: Task) -> "Pipeline":
        for t in tasks:
            if t.name in self.tasks:
                raise ValueError(f"duplicate task {t.name!r}")
            self.tasks[t.name] = t
        return self

    def run(self, context: dict[str, Any] | None = None) -> list[TaskRun]:
        """Execute respecting dependencies; a failed task (after its
        retries) skips everything downstream of it."""
        context = context if context is not None else {}
        graph = {n: set(t.upstream) for n, t in self.tasks.items()}
        order = list(TopologicalSorter(graph).static_order())
        failed: set[str] = set()
        report: list[TaskRun] = []
        for name in order:
            task = self.tasks[name]
            if task.upstream & failed:
                failed.add(name)
                report.append(TaskRun(name, "skipped", 0, 0.0))
                continue
            t0 = time.perf_counter()
            err: str | None = None
            for attempt in range(1, task.retries + 2):
                try:
                    context[name] = task.fn(context)
                    report.append(
                        TaskRun(name, "success", attempt, time.perf_counter() - t0)
                    )
                    break
                except Exception as exc:  # noqa: BLE001 — retry boundary
                    err = f"{type(exc).__name__}: {exc}"
            else:
                failed.add(name)
                report.append(
                    TaskRun(
                        name, "failed", task.retries + 1, time.perf_counter() - t0, err
                    )
                )
        return report
