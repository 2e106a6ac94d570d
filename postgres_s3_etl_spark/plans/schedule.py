"""Schedule / backfill driver — the Airflow-scheduler half of DAG
parity (reference airflow/dags/orders_ETL.py:33-41: ``start_date``,
``schedule_interval='@once'``, implicit catchup).

Airflow semantics, minus the daemon: a schedule expands into logical
run dates (a run for the interval [T, T+i) fires once T+i has
passed, and its logical date IS T), ``catchup`` decides whether
history is replayed or only the latest interval runs, and a run
ledger makes backfills idempotent — re-invoking a backfill skips
logical dates that already succeeded and retries ones that failed.
The ledger is a plain JSON file so a cron-driven caller gets
exactly-once-per-logical-date without any resident scheduler.

Scale note: the scheduler itself is driver-side metadata (dates and
states — bytes); all heavy lifting stays inside the Pipeline's Spark
plans. One backfill invocation runs logical dates one after another;
within a run, work may still share the session concurrently (the
reference DAGs' ``run_all`` runs its three DAGs on one session, one
thread each). Parallel backfill across dates is a caller concern
(one session each), not a library default.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from pathlib import Path
from typing import Any

from postgres_s3_etl_spark.plans.pipeline import Pipeline, TaskRun

#: Airflow-style schedule presets → interval length.
PRESETS: dict[str, timedelta | None] = {
    "@once": None,
    "@hourly": timedelta(hours=1),
    "@daily": timedelta(days=1),
    "@weekly": timedelta(weeks=1),
}


def _as_dt(d: date | datetime) -> datetime:
    if isinstance(d, datetime):
        return d
    return datetime(d.year, d.month, d.day)


def runs_between(
    start_date: date | datetime,
    now: date | datetime,
    schedule: str | timedelta,
    catchup: bool = True,
) -> list[datetime]:
    """Logical run dates due strictly before ``now``.

    ``@once`` yields exactly [start_date] (once start has passed).
    An interval schedule yields T for every [T, T+i) fully elapsed;
    ``catchup=False`` keeps only the most recent due date — the
    Airflow behavior that skips history after a pause.
    """
    start, now_dt = _as_dt(start_date), _as_dt(now)
    interval = PRESETS[schedule] if isinstance(schedule, str) else schedule
    if isinstance(schedule, str) and schedule not in PRESETS:
        raise ValueError(f"unknown schedule {schedule!r}")
    if interval is None:  # @once
        return [start] if start <= now_dt else []
    due: list[datetime] = []
    t = start
    while t + interval <= now_dt:
        due.append(t)
        t = t + interval
    if not catchup and due:
        return [due[-1]]
    return due


@dataclass
class ScheduledRun:
    logical_date: datetime
    state: str  # success | failed | skipped_done
    report: list[TaskRun] = field(default_factory=list)


class RunLedger:
    """Per-logical-date run states, optionally persisted as JSON.
    The commit happens AFTER the run completes — a crash mid-run
    leaves no record, so the date is retried on the next backfill
    (at-least-once per date; tasks must be idempotent, which the
    reference's full-refresh loads are)."""

    def __init__(self, path: str | Path | None = None):
        self._path = Path(path) if path else None
        self._state: dict[str, str] = {}
        if self._path and self._path.exists():
            self._state = json.loads(self._path.read_text())

    def state(self, logical_date: datetime) -> str | None:
        return self._state.get(logical_date.isoformat())

    def record(self, logical_date: datetime, state: str) -> None:
        self._state[logical_date.isoformat()] = state
        if self._path:
            tmp = self._path.with_suffix(".tmp")
            tmp.write_text(json.dumps(self._state, indent=0, sort_keys=True))
            tmp.replace(self._path)


class ScheduledPipeline:
    """A Pipeline bound to a schedule + start_date, Airflow-style."""

    def __init__(
        self,
        pipeline: Pipeline,
        schedule: str | timedelta,
        start_date: date | datetime,
        catchup: bool = True,
        ledger: RunLedger | None = None,
    ):
        self.pipeline = pipeline
        self.schedule = schedule
        self.start_date = start_date
        self.catchup = catchup
        self.ledger = ledger or RunLedger()

    def backfill(
        self,
        now: date | datetime,
        context_base: dict[str, Any] | None = None,
    ) -> list[ScheduledRun]:
        """Run every due, not-yet-succeeded logical date in order.
        Each run gets a fresh context with ``run_date`` injected —
        the same parameter the reference DAG threads through its
        date-partitioned S3 keys. A failed date is recorded and does
        NOT block later dates (Airflow's default: dag runs are
        independent unless depends_on_past)."""
        out: list[ScheduledRun] = []
        for logical in runs_between(
            self.start_date, now, self.schedule, self.catchup
        ):
            if self.ledger.state(logical) == "success":
                out.append(ScheduledRun(logical, "skipped_done"))
                continue
            ctx = dict(context_base or {})
            ctx["run_date"] = logical
            report = self.pipeline.run(ctx)
            state = (
                "success"
                if all(r.state == "success" for r in report)
                else "failed"
            )
            self.ledger.record(logical, state)
            out.append(ScheduledRun(logical, state, report))
        return out
