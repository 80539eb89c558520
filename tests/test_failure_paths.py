"""§3.1 failure paths: invalid docs, fetch errors, FAILED notification
hook, retry policy."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from stock_data_etl_pipeline_spark.plans.pipeline import StockLake
from stock_data_etl_pipeline_spark.plans.retry import RetryableError, with_retry
from stock_data_etl_pipeline_spark.state_machine import IngestionState as S

GOOD = {"data": {"financials": {
    "quarterly": {"period_end_date": ["2024-03"], "revenue": [1.0]},
    "ttm": {"period_end_date": "TTM", "revenue": 4.0}},
    "metadata": {"name": "Good Inc"}}}


def test_invalid_doc_fails_its_run_only(spark, tmp_path):
    notified = []
    lake = StockLake(spark, str(tmp_path / "lake"),
                     on_run_failed=lambda *a: notified.append(a))
    lake.ingest_batch([("GOOD", json.dumps(GOOD)), ("BAD", "{garbage")])

    runs = {r["ticker"]: r for r in lake.runs.read().collect()}
    assert runs["GOOD"]["state"] == S.DONE
    assert runs["BAD"]["state"] == S.FAILED
    assert runs["BAD"]["error_code"] == "INVALID_DATA_FORMAT"
    assert runs["BAD"]["error_message"]
    assert runs["BAD"]["failed_at"] is not None
    # silver only has GOOD's rows
    assert {r["ticker"] for r in
            lake.silver.read().select("ticker").distinct().collect()} == {"GOOD"}
    # notification hook fired once, for BAD
    assert len(notified) == 1
    assert notified[0][1] == "BAD" and notified[0][2] == "INVALID_DATA_FORMAT"


def test_all_invalid_batch_creates_no_silver(spark, tmp_path):
    lake = StockLake(spark, str(tmp_path / "lake"))
    res = lake.ingest_batch([("X", "nope"), ("Y", "[1,2]")])
    assert res["n_silver_rows"] == 0
    assert not lake.silver.exists()
    states = [r["state"] for r in lake.runs.read().collect()]
    assert states == [S.FAILED, S.FAILED]


def test_failed_merge_leaves_stocks_unchanged(spark, tmp_path, monkeypatch):
    lake = StockLake(spark, str(tmp_path / "lake"))
    lake.ingest_batch([("GOOD", json.dumps(GOOD))])
    v = lake.stocks.latest_version()

    def broken_merge(*a, **k):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(lake.silver, "merge", broken_merge)
    with pytest.raises(RuntimeError, match="merge failed"):
        lake.ingest_batch([("GOOD", json.dumps(GOOD)),
                           ("NEW", json.dumps(GOOD))])
    # stocks commit after the merge, with the runs that point at them
    assert lake.stocks.latest_version() == v
    assert {r["ticker"] for r in lake.read_stocks().collect()} == {"GOOD"}


def test_failed_batch_unpersists_fetch_cache(spark, tmp_path, monkeypatch):
    from stock_data_etl_pipeline_spark.sources import fetch
    real_fetch, frames = fetch.fetch_tickers, []

    def recording_fetch(*a, **k):
        frames.append(real_fetch(*a, **k))
        return frames[-1]

    monkeypatch.setattr(fetch, "fetch_tickers", recording_fetch)
    lake = StockLake(spark, str(tmp_path / "lake"))

    def broken_merge(*a, **k):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(lake.silver, "merge", broken_merge)
    with pytest.raises(RuntimeError, match="merge failed"):
        lake.fetch_and_ingest(["GOOD"], lambda t: (200, json.dumps(GOOD)))
    # the batch persisted its fetched payloads and released them on failure
    assert len(frames) == 1 and not frames[0].is_cached


def test_fetch_and_ingest_mixed(spark, tmp_path):
    notified = []
    lake = StockLake(spark, str(tmp_path / "lake"),
                     on_run_failed=lambda *a: notified.append(a))
    responses = {"AAPL": (200, json.dumps(GOOD)), "GONE": (404, ""),
                 "LIMIT": (429, "")}

    def transport(t):
        return responses[t]

    out = lake.fetch_and_ingest(["aapl", "GONE", "LIMIT"], transport)
    assert out["failed"] == {"GONE": "NOT_FOUND", "LIMIT": "RATE_LIMITED"}
    runs = {r["ticker"]: r for r in lake.runs.read().collect()}
    assert runs["AAPL"]["state"] == S.DONE
    assert runs["GONE"]["error_code"] == "NOT_FOUND"
    assert runs["LIMIT"]["error_code"] == "RATE_LIMITED"
    assert {n[1] for n in notified} == {"GONE", "LIMIT"}
    # stocks exist for failed tickers too (get_or_create before run)
    assert lake.read_stocks().count() == 3


def test_with_retry_policy():
    calls = {"n": 0}
    sleeps = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RetryableError("transient")
        return "ok"

    assert with_retry(flaky, sleep=sleeps.append, jitter=False) == "ok"
    assert calls["n"] == 3
    assert sleeps == [1.0, 2.0]  # exponential

    # cap respected
    sleeps.clear()
    calls["n"] = -10
    with_retry(flaky, sleep=sleeps.append, jitter=False,
               max_retries=13, backoff_cap=600.0)
    assert max(sleeps) == 600.0

    # non-retryable propagates immediately
    def boom():
        raise ValueError("hard")
    with pytest.raises(ValueError):
        with_retry(boom, sleep=sleeps.append)

    # retries exhausted -> raises
    def always():
        raise RetryableError("never")
    with pytest.raises(RetryableError):
        with_retry(always, sleep=lambda _: None, max_retries=2)
