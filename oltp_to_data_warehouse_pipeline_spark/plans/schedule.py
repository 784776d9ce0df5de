"""Recurring-schedule orchestration — the engine half of the reference's
daily Airflow DAG (`Airflow.py:11-23`: ``schedule_interval=timedelta(days=1)``,
``start_date``, ``retries``), re-expressed as durable state + pure
catch-up arithmetic instead of a resident scheduler process.

What a scheduler actually contributes to a pipeline is not the timer —
cron/Airflow/K8s all provide timers — it is the RUN LEDGER: which logical
intervals have succeeded, which must re-run after a crash, and which are
due now (Airflow's catchup).  That state belongs with the warehouse (it
must survive scheduler hosts), so here it is a parquet table with
append-only attempt rows and last-attempt-wins semantics, plus a pure
function from (spec, ledger, now) → due logical timestamps.  Any timer —
cron, a systemd unit, an Airflow PythonOperator, a while-sleep loop —
calls :func:`run_due` and gets exactly-once-per-logical-interval
execution on top of at-least-once triggering, the same
idempotence-over-replay contract as the CDC upsert sink (sources/upsert).

Semantics (matching Airflow's data-interval model, which the reference
DAG inherits):

- a run for the logical interval ``[t, t + interval)`` becomes due at
  ``t + interval`` (you process a day once the day has ended);
- catchup: EVERY interval from ``start`` that has closed and not yet
  SUCCEEDED is due — missed and failed intervals re-run in logical
  order (the reference sets ``retries: 1`` per task; here retries are
  per trigger invocation, unbounded across invocations, because the
  ledger never marks a failure as done);
- the job receives (spark, logical_ts, prior state dict) and returns a
  state dict persisted with the SUCCESS row — the watermark hand-off
  between runs (`get_latest_fact_id`'s job in the reference, minus the
  fact-table scan: the ledger carries it forward).
"""

from __future__ import annotations

import json
import traceback
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark import fs

_LEDGER_SCHEMA = (
    "logical_ts long, attempt_ts long, status string, state string, error string"
)


@dataclass(frozen=True)
class ScheduleSpec:
    """``interval_s`` seconds per logical interval starting at ``start``
    (epoch seconds, UTC).  Day-granular scheduling passes 86_400 — the
    arithmetic is pure integer epoch math, immune to DST (the reference's
    ``timedelta(days=1)`` behaves the same way)."""

    start: int
    interval_s: int = 86_400

    def __post_init__(self) -> None:
        if self.interval_s <= 0:
            raise ValueError(f"interval_s must be positive, got {self.interval_s}")

    def closed_intervals(self, now: int) -> list[int]:
        """Logical start timestamps of every interval fully closed by
        ``now`` — the catchup universe."""
        if now < self.start + self.interval_s:
            return []
        n = (now - self.start) // self.interval_s
        return [self.start + i * self.interval_s for i in range(n)]


def read_ledger(spark: SparkSession, path: str) -> DataFrame:
    if not fs.has_data_files(spark, path):
        return spark.createDataFrame([], _LEDGER_SCHEMA)
    return spark.read.parquet(path)


def ledger_state(spark: SparkSession, path: str) -> dict[int, tuple[str, dict]]:
    """{logical_ts: (status, state)} per logical interval: SUCCESS if any
    attempt ever succeeded (append-only ledger + idempotent jobs make a
    success permanent — a replayed trigger can add failure rows after it
    without un-doing the interval), with the LATEST success's state;
    otherwise the latest attempt's status.  The ledger is bounded by
    runs-ever-attempted (a few rows per day), so the driver-side collect
    is metadata-sized by construction."""
    df = read_ledger(spark, path)
    ok = F.col("status") == "success"
    w = Window.partitionBy("logical_ts").orderBy(
        ok.cast("int").desc(), F.col("attempt_ts").desc()
    )
    rows = (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("logical_ts", "status", "state")
        .collect()
    )
    return {
        int(r["logical_ts"]): (r["status"], json.loads(r["state"] or "{}"))
        for r in rows
    }


def due_runs(
    spec: ScheduleSpec, state: dict[int, tuple[str, dict]], now: int
) -> list[int]:
    """Logical timestamps due at ``now``: closed intervals whose last
    attempt is missing or non-SUCCESS, in logical order."""
    return [
        t
        for t in spec.closed_intervals(now)
        if state.get(t, ("missing", {}))[0] != "success"
    ]


def _append(
    spark: SparkSession,
    path: str,
    logical_ts: int,
    attempt_ts: int,
    status: str,
    state: dict,
    error: str | None,
) -> None:
    spark.createDataFrame(
        [(logical_ts, attempt_ts, status, json.dumps(state), error)],
        _LEDGER_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(path)


def run_due(
    spark: SparkSession,
    spec: ScheduleSpec,
    ledger_path: str,
    job: Callable[[SparkSession, int, dict], dict],
    now: int | None = None,
    max_runs: int | None = None,
) -> dict:
    """Execute every due logical interval in order.  ``job`` gets
    (spark, logical_ts, prior_state) where prior_state is the most recent
    SUCCESS state at or before this interval (the watermark hand-off);
    its returned dict lands in the SUCCESS row.  A job exception records
    a FAILURE row (with the traceback) and STOPS the catch-up — later
    intervals stay due, preserving logical order across invocations, and
    the failed interval re-runs on the next trigger (the reference's
    retry, without a bound).  Returns
    ``{"ran": [...], "failed": ts|None, "skipped_done": n}``."""
    now = int(now if now is not None else datetime.now(timezone.utc).timestamp())
    state = ledger_state(spark, ledger_path)
    due = due_runs(spec, state, now)
    if max_runs is not None:
        due = due[:max_runs]
    done_states = sorted(
        (t, st) for t, (s, st) in state.items() if s == "success"
    )
    ran: list[int] = []
    failed: int | None = None
    for t in due:
        prior: dict = {}
        for pt, st in done_states:
            if pt < t:
                prior = st
            else:
                break
        try:
            out = job(spark, t, prior) or {}
        except Exception:
            _append(spark, ledger_path, t, now, "failure", {}, traceback.format_exc())
            failed = t
            break
        _append(spark, ledger_path, t, now, "success", out, None)
        done_states.append((t, out))
        done_states.sort()
        ran.append(t)
    n_done = len([1 for s, _ in state.values() if s == "success"])
    return {"ran": ran, "failed": failed, "skipped_done": n_done}
