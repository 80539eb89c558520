"""Driver-side run walk (``state_machine.advance``): the guarded DAG and
timestamp stamping an ingest batch applies to its uncommitted run rows."""

from __future__ import annotations

import pytest

from stock_data_etl_pipeline_spark.state_machine import (
    IngestionState as S,
    TransitionError,
    advance,
    new_run_row,
)


def test_advance_stamps_each_phase_in_order():
    row = new_run_row("stock-1", "AAA")
    advance([row], S.FETCHING)
    advance([row], S.FETCHED, raw_data_uri="bronze/b1")
    assert row["state"] == S.FETCHED
    assert row["raw_data_uri"] == "bronze/b1"
    assert (row["queued_for_fetch_at"] <= row["fetching_started_at"]
            <= row["fetching_finished_at"] == row["updated_at"])
    assert row["queued_for_delta_at"] is None and row["failed_at"] is None


def test_advance_rejects_a_step_outside_the_dag():
    row = new_run_row("stock-1", "AAA")
    with pytest.raises(TransitionError):
        advance([row], S.DONE)
    assert row["state"] == S.QUEUED_FOR_FETCH and row["done_at"] is None


def test_advance_failed_needs_code_and_message_and_is_terminal():
    row = new_run_row("stock-1", "AAA")
    with pytest.raises(TransitionError):
        advance([row], S.FAILED, error_code="NOT_FOUND")
    advance([row], S.FAILED, error_code="NOT_FOUND", error_message="gone")
    assert (row["state"], row["error_code"], row["error_message"]) == \
        (S.FAILED, "NOT_FOUND", "gone")
    assert row["failed_at"] == row["updated_at"]
    with pytest.raises(TransitionError):
        advance([row], S.FETCHING)
