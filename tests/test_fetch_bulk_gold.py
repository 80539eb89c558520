"""S1 fetch taxonomy, S8 raw passthrough, A3/M5 bulk queue, C1-C3 gold
views."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from stock_data_etl_pipeline_spark.plans.bulk import bulk_run_stats, queue_all_stocks
from stock_data_etl_pipeline_spark.plans.gold import GoldViews
from stock_data_etl_pipeline_spark.plans.pipeline import StockLake
from stock_data_etl_pipeline_spark.plans.queries import latest_run_for_stock
from stock_data_etl_pipeline_spark.schemas import INGESTION_RUNS
from stock_data_etl_pipeline_spark.sources.fetch import classify, fetch_tickers
from stock_data_etl_pipeline_spark.state_machine import IngestionState as S

DOC = {"data": {"financials": {
    "quarterly": {"period_end_date": ["2024-03"], "revenue": [1.0]},
    "ttm": {"period_end_date": "TTM", "revenue": 4.0}},
    "metadata": {"sector": "Tech", "name": "A", "exchange": "NYSE"}}}


# -- S1 fetch ---------------------------------------------------------------

RESPONSES = {
    "GOOD": (200, json.dumps(DOC)),
    "AUTH": (401, ""),
    "MISSING": (404, "nope"),
    "THROTTLED": (429, ""),
    "TEAPOT": (418, ""),
    "BROKEN": (500, "err"),
    "EMPTY": (200, "   "),
    "GARBAGE": (200, "{not json"),
    "SCALAR": (200, "42"),
}


def test_fetch_error_taxonomy(spark):
    responses = dict(RESPONSES)

    # local closure: cloudpickle ships it by value to executors (a module-
    # level function would be pickled by reference to the test module,
    # which executors can't import)
    def fake_transport(ticker: str):
        if ticker == "BOOM":
            raise ConnectionError("no route")
        return responses[ticker]

    tickers = spark.createDataFrame(
        [(t,) for t in [*RESPONSES, "BOOM"]], "ticker string")
    out = {r["ticker"]: r for r in
           fetch_tickers(tickers, fake_transport).collect()}
    assert out["GOOD"]["error_code"] is None
    assert json.loads(out["GOOD"]["json_str"]) == DOC
    expect = {"AUTH": "AUTH_ERROR", "MISSING": "NOT_FOUND",
              "THROTTLED": "RATE_LIMITED", "TEAPOT": "CLIENT_ERROR",
              "BROKEN": "SERVER_ERROR", "EMPTY": "EMPTY_RESPONSE",
              "GARBAGE": "INVALID_JSON", "SCALAR": "INVALID_JSON",
              "BOOM": "CONNECTION_ERROR"}
    got = {t: r["error_code"] for t, r in out.items() if t != "GOOD"}
    assert got == expect
    assert all(out[t]["json_str"] is None for t in expect)


def test_classify_is_pure():
    assert classify(200, '{"a": 1}') is None
    assert classify(None, None) == "CONNECTION_ERROR"


# -- S8 raw passthrough -----------------------------------------------------

def test_read_raw_json_latest_done(spark, tmp_path):
    lake = StockLake(spark, str(tmp_path / "lake"))
    lake.ingest_batch([("AAPL", json.dumps(DOC))])
    doc2 = json.loads(json.dumps(DOC))
    doc2["data"]["metadata"]["name"] = "A2"
    lake.ingest_batch([("AAPL", json.dumps(doc2))])

    payload = lake.read_raw_json("aapl ")
    assert json.loads(payload)["data"]["metadata"]["name"] == "A2"  # latest
    assert lake.read_raw_json("MISSING") is None


def test_read_raw_json_breaks_created_at_ties_by_id(tied_runs_lake):
    # of two DONE runs created together, the larger id's document wins
    assert json.loads(tied_runs_lake.read_raw_json("aapl")) == {"v": 2}


def test_read_raw_json_repeat_read_launches_no_job(tied_runs_lake,
                                                  jobs_during):
    # the run comes from the driver-held Arrow runs view, built once per
    # runs snapshot, and the document from a pyarrow read on the driver
    tied_runs_lake.read_raw_json("MSFT")
    assert jobs_during(lambda: tied_runs_lake.read_raw_json("AAPL")) == 0
    assert tied_runs_lake.runs_by_recency.builds == 1


def test_latest_runs_follow_commits_of_another_handle(spark, tmp_path):
    # a second handle on the same root commits to ingestion_runs; the first
    # handle's latest-run and raw JSON reads move with no notify call
    lake = StockLake(spark, str(tmp_path / "lake"))
    lake.ingest_batch([("AAPL", json.dumps(DOC))])
    first = latest_run_for_stock(lake, "AAPL").collect()[0]
    assert json.loads(lake.read_raw_json("AAPL")) == DOC

    other = StockLake(spark, lake.root)
    doc2 = json.loads(json.dumps(DOC))
    doc2["data"]["metadata"]["name"] = "A2"
    run2 = other.ingest_batch([("AAPL", json.dumps(doc2))])["run_ids"]
    assert [r["id"] for r in latest_run_for_stock(lake, "AAPL").collect()] == run2
    assert run2 != [first["id"]]
    assert json.loads(lake.read_raw_json("AAPL")) == doc2

    queued = queue_all_stocks(other)["bulk_queue_run_id"]
    latest = latest_run_for_stock(lake, "AAPL").collect()
    assert [(r["state"], r["bulk_queue_run_id"]) for r in latest] == [
        (S.QUEUED_FOR_FETCH, queued)]
    done = latest_run_for_stock(lake, "AAPL", only_done=True).collect()
    assert [r["id"] for r in done] == run2
    assert json.loads(lake.read_raw_json("AAPL")) == doc2


def test_silver_range_read_launches_no_job_and_follows_other_handle(
        spark, tmp_path, jobs_during):
    # a silver range read is served on the driver with no Spark job, and
    # it resolves the latest commit on every call: a batch merged through
    # a second handle shows in the first handle's next range read
    lake = StockLake(spark, str(tmp_path / "lake"))
    lake.ingest_batch([("AAPL", json.dumps(DOC))])

    def periods(lo, hi):
        return sorted((r["ticker"], r["period_end_date"]) for r in
                      lake.silver.read_where("ticker", lo, hi)
                      .filter(F.col("record_type") == "financials")
                      .select("ticker", "period_end_date").collect())

    got = []
    assert jobs_during(lambda: got.append(periods("AAPL", "AAPL"))) == 0
    assert got == [[("AAPL", "2024-03")]]

    other = StockLake(spark, lake.root)
    doc2 = json.loads(json.dumps(DOC))
    doc2["data"]["financials"]["quarterly"] = {
        "period_end_date": ["2024-03", "2024-06"], "revenue": [1.0, 2.0]}
    other.ingest_batch([("AAPL", json.dumps(doc2)), ("MSFT", json.dumps(DOC))])
    assert periods("AAPL", "AAPL") == [("AAPL", "2024-03"), ("AAPL", "2024-06")]
    assert periods("A", "N") == [("AAPL", "2024-03"), ("AAPL", "2024-06"),
                                 ("MSFT", "2024-03")]


# -- A3/M5 bulk queue -------------------------------------------------------

@pytest.fixture()
def bulk_lake(spark, tmp_path):
    """Stocks AAA, BBB and CCC with no ingest; AAA has an active run, so a
    bulk queue skips it."""
    from stock_data_etl_pipeline_spark.state_machine import new_run_row
    lake = StockLake(spark, str(tmp_path / "lake"))
    sid = lake.get_or_create_stocks(["AAA", "BBB", "CCC"])
    lake.runs.overwrite(spark.createDataFrame(
        [new_run_row(sid["AAA"], "AAA")], INGESTION_RUNS))
    return lake


def test_queue_all_stocks_counters(bulk_lake):
    lake = bulk_lake
    res = queue_all_stocks(lake, requested_by="ops")
    assert res["total_stocks"] == 3
    assert res["queued_count"] == 2
    assert res["skipped_count"] == 1
    assert res["error_count"] == 0

    runs = lake.runs.read()
    assert runs.count() == 3
    assert runs.filter(F.col("bulk_queue_run_id").isNotNull()).count() == 2

    stats = {r["state"]: r["count"] for r in
             bulk_run_stats(lake, res["bulk_queue_run_id"]).collect()}
    assert stats[S.QUEUED_FOR_FETCH] == 2
    assert stats[S.DONE] == 0  # zero-filled
    assert len(stats) == 8

    bulk = lake.bulk_runs.read().collect()[0]
    assert (bulk["total_stocks"], bulk["queued_count"],
            bulk["skipped_count"], bulk["error_count"]) == (3, 2, 1, 0)
    assert bulk["completed_at"] is not None


def test_queue_all_stocks_one_exchange(spark, tmp_path):
    lake = StockLake(spark, str(tmp_path / "lake"))
    nyse = json.loads(json.dumps(DOC))
    nasdaq = json.loads(json.dumps(DOC))
    nasdaq["data"]["metadata"]["exchange"] = "Nasdaq"
    lake.ingest_batch([("AAA", json.dumps(nyse)), ("BBB", json.dumps(nasdaq)),
                       ("CCC", json.dumps(nasdaq))])

    res = queue_all_stocks(lake, exchange_name=" nasdaq\t")
    assert (res["total_stocks"], res["queued_count"]) == (2, 2)
    queued = lake.runs.read().filter(
        F.col("bulk_queue_run_id") == res["bulk_queue_run_id"])
    assert sorted(r["ticker"] for r in queued.collect()) == ["BBB", "CCC"]

    assert queue_all_stocks(lake, exchange_name="LSE")["total_stocks"] == 0


def test_concurrent_bulk_queue_conflicts_instead_of_losing_runs(spark,
                                                                 bulk_lake):
    # handle B queues every stock while handle A's queue is writing its
    # runs: A read the runs before B's commit, so A must raise rather than
    # commit a table without B's runs
    from stock_data_etl_pipeline_spark.sources.managed_table import (
        ConcurrentModificationError,
    )
    other = StockLake(spark, bulk_lake.root)
    won: dict = {}
    write = bulk_lake.runs._write_arrow

    def racy(table, schema):
        won.update(queue_all_stocks(other, requested_by="b"))
        return write(table, schema)

    bulk_lake.runs._write_arrow = racy
    with pytest.raises(ConcurrentModificationError):
        queue_all_stocks(bulk_lake, requested_by="a")

    b = won["bulk_queue_run_id"]
    runs = bulk_lake.read_runs().collect()
    assert sorted((r["ticker"], r["bulk_queue_run_id"]) for r in runs) == [
        ("AAA", None), ("BBB", b), ("CCC", b)]
    assert [r["id"] for r in bulk_lake.bulk_runs.read().collect()] == [b]


def test_cached_bulk_stats_collect_launches_no_job(bulk_lake, jobs_during):
    # the zero-filled 8 rows are built once and held on the driver: each
    # collect serves them, in state order, with no Spark job
    res = queue_all_stocks(bulk_lake)
    gv = GoldViews()
    gv.register("bulk_stats",
                lambda: bulk_run_stats(bulk_lake, res["bulk_queue_run_id"]),
                tags={"run_views"}, ttl_seconds=300)
    want = [(s, 2 if s == S.QUEUED_FOR_FETCH else 0) for s in sorted(S.ALL)]
    gv.get("bulk_stats")
    for _ in range(2):
        rows = []
        assert jobs_during(lambda: rows.extend(gv.get("bulk_stats").collect())) == 0
        assert [tuple(r) for r in rows] == want
    assert gv.build_count("bulk_stats") == 1


# -- C1-C3 gold views -------------------------------------------------------

def test_gold_views_cache_and_invalidation(spark):
    calls = {"n": 0}

    def builder():
        calls["n"] += 1
        return spark.range(5)

    gv = GoldViews()
    gv.register("tickers_page", builder, tags={"ticker_views"})
    gv.register("exchanges_page", lambda: spark.range(2),
                tags={"exchange_views"})

    assert gv.get("tickers_page").count() == 5
    gv.get("tickers_page")
    assert calls["n"] == 1  # C1: served from cache

    # C2: a sector write invalidates ticker views but not exchange views
    hit = gv.notify_write("sectors")
    assert hit == ["tickers_page"]
    gv.get("tickers_page")
    assert calls["n"] == 2

    # unknown table -> nothing invalidated
    assert gv.notify_write("lineitem") == []


def test_gold_ttl_expiry(spark, monkeypatch):
    import stock_data_etl_pipeline_spark.plans.gold as gold_mod
    t = {"now": 1000.0}
    monkeypatch.setattr(gold_mod.time, "monotonic", lambda: t["now"])
    calls = {"n": 0}

    def builder():
        calls["n"] += 1
        return builder.spark.range(1)

    builder.spark = spark
    gv = GoldViews()
    gv.register("stats", builder, tags=set(), ttl_seconds=300)
    gv.get("stats"); gv.get("stats")
    assert calls["n"] == 1
    t["now"] += 301  # C3: TTL elapsed
    gv.get("stats")
    assert calls["n"] == 2
