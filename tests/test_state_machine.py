"""State-machine parity tests (reference services/api/tests/services.py and
stock_ingestion_service.py:61-82,242-252; models.py:386-399).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_data_etl_pipeline_spark.schemas import INGESTION_RUNS
from stock_data_etl_pipeline_spark.state_machine import (
    STATE_TIMESTAMP_COLUMN,
    VALID_TRANSITIONS,
    IngestionState as S,
    TransitionError,
    new_run_row,
    transition,
)


@pytest.fixture()
def one_run(spark):
    row = new_run_row("stock-1", "AAPL")
    return row["id"], spark.createDataFrame([row], INGESTION_RUNS)


def state_of(runs, run_id):
    return runs.filter(F.col("id") == run_id).collect()[0]


def test_happy_path_walk(spark, one_run):
    run_id, runs = one_run
    for st in [S.FETCHING, S.FETCHED, S.QUEUED_FOR_DELTA, S.DELTA_RUNNING,
               S.DELTA_FINISHED, S.DONE]:
        runs = transition(runs, run_id, st)
        row = state_of(runs, run_id)
        assert row["state"] == st
        assert row[STATE_TIMESTAMP_COLUMN[st]] is not None
    # all phase timestamps populated at the end
    assert all(row[c] is not None for c in STATE_TIMESTAMP_COLUMN.values()
               if c != "failed_at")


def test_illegal_jump_raises(spark, one_run):
    run_id, runs = one_run
    with pytest.raises(TransitionError):
        transition(runs, run_id, S.DONE)  # QUEUED_FOR_FETCH -> DONE illegal
    with pytest.raises(TransitionError):
        transition(runs, run_id, S.QUEUED_FOR_FETCH)  # no predecessor at all


def test_terminal_states_are_sinks(spark, one_run):
    run_id, runs = one_run
    runs = transition(runs, run_id, S.FAILED,
                      error_code="X", error_message="boom")
    for st in [S.FETCHING, S.DONE]:
        with pytest.raises(TransitionError):
            transition(runs, run_id, st)


def test_failed_requires_error_fields(spark, one_run):
    run_id, runs = one_run
    with pytest.raises(TransitionError):
        transition(runs, run_id, S.FAILED)
    with pytest.raises(TransitionError):
        transition(runs, run_id, S.FAILED, error_code="X")
    runs = transition(runs, run_id, S.FAILED,
                      error_code="API_ERROR", error_message="500")
    row = state_of(runs, run_id)
    assert row["error_code"] == "API_ERROR"
    assert row["failed_at"] is not None


def test_every_nonterminal_state_can_fail(spark):
    for st, nxt in VALID_TRANSITIONS.items():
        if st not in (S.DONE, S.FAILED):
            assert S.FAILED in nxt


def test_unknown_state_rejected(spark, one_run):
    run_id, runs = one_run
    with pytest.raises(TransitionError):
        transition(runs, run_id, "SHIPPED")


def test_uri_stamping(spark, one_run):
    run_id, runs = one_run
    runs = transition(runs, run_id, S.FETCHING)
    runs = transition(runs, run_id, S.FETCHED, raw_data_uri="s3://raw/x.json")
    assert state_of(runs, run_id)["raw_data_uri"] == "s3://raw/x.json"


def test_batch_transition(spark):
    rows = [new_run_row(f"s{i}", f"T{i}") for i in range(3)]
    runs = spark.createDataFrame(rows, INGESTION_RUNS)
    ids = [r["id"] for r in rows]
    runs = transition(runs, ids, S.FETCHING)
    assert runs.filter(F.col("state") == S.FETCHING).count() == 3
    # one run moves ahead; batch transition of all three now fails strict
    runs2 = transition(runs, ids[0], S.FETCHED)
    with pytest.raises(TransitionError):
        transition(runs2, ids, S.FETCHED)


def test_batch_failed_with_per_id_errors(spark):
    rows = [new_run_row(f"s{i}", f"T{i}") for i in range(3)]
    runs = spark.createDataFrame(rows, INGESTION_RUNS)
    per_id = {r["id"]: (f"E{i}", f"fetch failed for T{i}: E{i}")
              for i, r in enumerate(rows)}
    out = transition(runs, list(per_id), S.FAILED, per_id_errors=per_id)
    got = {r["id"]: (r["error_code"], r["error_message"], r["state"])
           for r in out.collect()}
    for rid, (code, msg) in per_id.items():
        assert got[rid] == (code, msg, S.FAILED)
    # the batched form is ONE projection — plan depth must not scale with
    # the failure count (the r2 loop chained one node per failure)
    assert out.toJSON  # plan sanity: still a DataFrame
    plan = out._jdf.queryExecution().logical().toString()
    assert plan.count("Project") <= 2


def test_per_id_errors_must_cover_all_ids(spark):
    rows = [new_run_row("sa", "TA"), new_run_row("sb", "TB")]
    runs = spark.createDataFrame(rows, INGESTION_RUNS)
    only_first = {rows[0]["id"]: ("E0", "boom")}
    with pytest.raises(TransitionError):
        transition(runs, [r["id"] for r in rows], S.FAILED,
                   per_id_errors=only_first)
