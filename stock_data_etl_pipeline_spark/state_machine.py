"""Ingestion-run state machine: 8-state DAG, validated transitions,
one-active-run-per-stock invariant.

Parity targets (reference, /root/reference/):
- state enum: services/api/models.py:12-33
- legal-transition DAG: services/api/services/stock_ingestion_service.py:61-70
- state -> timestamp-column map: stock_ingestion_service.py:73-82
- FAILED requires error_code + error_message: stock_ingestion_service.py:242-252
- partial unique constraint (at most one non-terminal run per stock):
  models.py:386-399 — no DDL equivalent in a lake table, enforced here by
  the guarded get-or-create operator + single-writer discipline per key.

The reference commits every transition under a SELECT FOR UPDATE row lock.
An ingest batch here commits its new runs once, at the end, so no reader
sees an intermediate state: ``advance`` walks the batch's run rows through
the DAG on the driver. ``transition`` is the guarded conditional update for
runs already committed: it applies only where the current state is a legal
predecessor, so an illegal or stale transition raises.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.merge import merge_upsert
from .schemas import INGESTION_RUNS


class IngestionState:
    QUEUED_FOR_FETCH = "QUEUED_FOR_FETCH"
    FETCHING = "FETCHING"
    FETCHED = "FETCHED"
    QUEUED_FOR_DELTA = "QUEUED_FOR_DELTA"
    DELTA_RUNNING = "DELTA_RUNNING"
    DELTA_FINISHED = "DELTA_FINISHED"
    DONE = "DONE"
    FAILED = "FAILED"

    ALL = [QUEUED_FOR_FETCH, FETCHING, FETCHED, QUEUED_FOR_DELTA,
           DELTA_RUNNING, DELTA_FINISHED, DONE, FAILED]
    TERMINAL = [DONE, FAILED]


# stock_ingestion_service.py:61-70 — every non-terminal state may also fail.
VALID_TRANSITIONS: dict[str, list[str]] = {
    IngestionState.QUEUED_FOR_FETCH: [IngestionState.FETCHING, IngestionState.FAILED],
    IngestionState.FETCHING: [IngestionState.FETCHED, IngestionState.FAILED],
    IngestionState.FETCHED: [IngestionState.QUEUED_FOR_DELTA, IngestionState.FAILED],
    IngestionState.QUEUED_FOR_DELTA: [IngestionState.DELTA_RUNNING, IngestionState.FAILED],
    IngestionState.DELTA_RUNNING: [IngestionState.DELTA_FINISHED, IngestionState.FAILED],
    IngestionState.DELTA_FINISHED: [IngestionState.DONE, IngestionState.FAILED],
    IngestionState.DONE: [],
    IngestionState.FAILED: [],
}

# stock_ingestion_service.py:73-82
STATE_TIMESTAMP_COLUMN: dict[str, str] = {
    IngestionState.QUEUED_FOR_FETCH: "queued_for_fetch_at",
    IngestionState.FETCHING: "fetching_started_at",
    IngestionState.FETCHED: "fetching_finished_at",
    IngestionState.QUEUED_FOR_DELTA: "queued_for_delta_at",
    IngestionState.DELTA_RUNNING: "delta_started_at",
    IngestionState.DELTA_FINISHED: "delta_finished_at",
    IngestionState.DONE: "done_at",
    IngestionState.FAILED: "failed_at",
}


class TransitionError(ValueError):
    pass


def is_terminal_col(state_col: F.Column) -> F.Column:
    """P7: is_terminal = state IN (DONE, FAILED) (models.py:281-289)."""
    return state_col.isin(*IngestionState.TERMINAL)


def _now() -> datetime:
    return datetime.now(tz=timezone.utc).replace(tzinfo=None)


def new_run_row(stock_id: str, ticker: str, *,
                bulk_queue_run_id: str | None = None,
                requested_by: str | None = None,
                request_id: str | None = None,
                now: datetime | None = None) -> dict:
    ts = now or _now()
    return {
        "id": str(uuid.uuid4()), "stock_id": stock_id, "ticker": ticker,
        "bulk_queue_run_id": bulk_queue_run_id, "requested_by": requested_by,
        "request_id": request_id or ts.strftime("%Y%m%d%H%M%S%f"),
        "state": IngestionState.QUEUED_FOR_FETCH,
        "created_at": ts, "updated_at": ts, "queued_for_fetch_at": ts,
        "fetching_started_at": None, "fetching_finished_at": None,
        "queued_for_delta_at": None, "delta_started_at": None,
        "delta_finished_at": None, "done_at": None, "failed_at": None,
        "error_code": None, "error_message": None,
        "raw_data_uri": None, "processed_data_uri": None,
    }


def advance(rows: list[dict], new_state: str, **fields) -> None:
    """M3 on the driver for uncommitted run rows: move each to ``new_state``
    in place, stamping its timestamp column and ``updated_at`` now and
    setting ``fields`` (error code/message, data URIs). Raises like
    ``transition`` on an illegal step or a FAILED without code and message."""
    if new_state == IngestionState.FAILED and not (
            fields.get("error_code") and fields.get("error_message")):
        raise TransitionError("FAILED transition requires error_code and error_message")
    ts = _now()
    for r in rows:
        if new_state not in VALID_TRANSITIONS[r["state"]]:
            raise TransitionError(
                f"run {r['id']} cannot move from {r['state']!r} to {new_state!r}")
        r.update(fields, state=new_state, updated_at=ts,
                 **{STATE_TIMESTAMP_COLUMN[new_state]: ts})


def runs_dataframe(spark: SparkSession, rows: list[dict]) -> DataFrame:
    data = [tuple(r.get(f.name) for f in INGESTION_RUNS.fields) for r in rows]
    return spark.createDataFrame(data, INGESTION_RUNS)


def transition(runs: DataFrame, run_id: str | list[str], new_state: str, *,
               error_code: str | None = None,
               error_message: str | None = None,
               per_id_errors: dict[str, tuple[str, str]] | None = None,
               raw_data_uri: str | None = None,
               processed_data_uri: str | None = None,
               now: datetime | None = None,
               strict: bool = True) -> DataFrame:
    """M3: validated state transition as a conditional update.

    Returns the updated relation. The update predicate requires the
    current state to be a legal predecessor of ``new_state``; with
    ``strict`` a violated guard (or unknown run id) raises
    TransitionError, mirroring the reference's InvalidTransition
    (stock_ingestion_service.py:181-266).

    ``per_id_errors`` (id -> (error_code, error_message)) transitions a
    whole failure batch in ONE plan node: per-id values come from a map
    literal lookup instead of chaining one conditional projection per
    run (which made plan depth linear in the failure count).
    """
    if new_state not in IngestionState.ALL:
        raise TransitionError(f"unknown state {new_state!r}")
    if new_state == IngestionState.FAILED and not (
            (error_code and error_message) or per_id_errors):
        # stock_ingestion_service.py:242-252: FAILED requires both.
        raise TransitionError("FAILED transition requires error_code and error_message")
    prev_states = [s for s, nxt in VALID_TRANSITIONS.items() if new_state in nxt]
    ts = now or _now()
    ids = [run_id] if isinstance(run_id, str) else list(run_id)
    if per_id_errors is not None:
        missing = [i for i in ids if i not in per_id_errors]
        if missing:
            raise TransitionError(
                f"per_id_errors missing entries for ids: {missing}")
    guard = F.col("id").isin(ids) & F.col("state").isin(prev_states)
    if strict:
        n = runs.filter(guard).count()
        if n != len(ids):
            raise TransitionError(
                f"{len(ids) - n} of {len(ids)} runs not in a legal predecessor "
                f"state of {new_state!r} (legal: {prev_states})")
    ts_col = STATE_TIMESTAMP_COLUMN[new_state]
    updates: dict[str, F.Column] = {
        "state": F.lit(new_state),
        "updated_at": F.lit(ts),
        ts_col: F.lit(ts),
    }
    if per_id_errors is not None:
        updates["error_code"] = F.create_map(
            *[F.lit(x) for i in ids for x in (i, per_id_errors[i][0])]
        )[F.col("id")]
        updates["error_message"] = F.create_map(
            *[F.lit(x) for i in ids for x in (i, per_id_errors[i][1])]
        )[F.col("id")]
    else:
        if error_code is not None:
            updates["error_code"] = F.lit(error_code)
        if error_message is not None:
            updates["error_message"] = F.lit(error_message)
    if raw_data_uri is not None:
        updates["raw_data_uri"] = F.lit(raw_data_uri)
    if processed_data_uri is not None:
        updates["processed_data_uri"] = F.lit(processed_data_uri)
    # single projection: every guard evaluates against the PRE-transition
    # state (sequential withColumn would let the state update falsify the
    # guard for the timestamp/uri columns)
    return runs.withColumns({col: F.when(guard, expr).otherwise(F.col(col))
                             for col, expr in updates.items()})


@dataclass
class QueueResult:
    run_id: str
    created: bool  # False -> an active run already existed (skip/409 path)
    runs: DataFrame


def queue_for_fetch(runs: DataFrame, stock_id: str, ticker: str, *,
                    bulk_queue_run_id: str | None = None,
                    requested_by: str | None = None,
                    now: datetime | None = None) -> QueueResult:
    """M2: get-or-create the active run for a stock.

    If the stock already has a non-terminal run, return it unchanged
    (created=False — the reference's skip/409 path, stock_ingestion_service
    .py:268-334); else insert a fresh QUEUED_FOR_FETCH run. The partial
    unique constraint becomes this guarded insert + per-stock single-writer
    discipline.
    """
    active = (runs.filter((F.col("stock_id") == stock_id)
                          & ~is_terminal_col(F.col("state")))
              .orderBy(F.col("created_at").desc(), F.col("id").desc())
              .limit(1).collect())
    if active:
        return QueueResult(active[0]["id"], False, runs)
    row = new_run_row(stock_id, ticker, bulk_queue_run_id=bulk_queue_run_id,
                      requested_by=requested_by, now=now)
    fresh = runs_dataframe(runs.sparkSession, [row])
    return QueueResult(row["id"], True, merge_upsert(runs, fresh, ["id"]))
