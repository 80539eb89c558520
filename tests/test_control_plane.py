"""The control tables (stocks, exchanges, sectors, runs, bulk runs) are
looked up and committed on the driver through Arrow: no Spark job, the
row checks ``createDataFrame`` makes, the same instants through Spark and
Arrow under any session time zone, and commits at the version their
lookup read."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stock_data_etl_pipeline_spark.plans import bulk
from stock_data_etl_pipeline_spark.plans.bulk import queue_all_stocks
from stock_data_etl_pipeline_spark.plans.pipeline import StockLake
from stock_data_etl_pipeline_spark.sources.managed_table import (
    ConcurrentModificationError,
)
from stock_data_etl_pipeline_spark.state_machine import is_terminal_col, new_run_row

DOC = json.dumps({"data": {
    "financials": {
        "quarterly": {"period_end_date": ["2024-03"], "revenue": [1.0]},
        "ttm": {"period_end_date": "TTM", "revenue": 4.0}},
    "metadata": {"sector": "Tech", "name": "A", "exchange": "NYSE"}}})


@pytest.fixture()
def queued_lake(spark, tmp_path):
    """Stocks AAA, BBB and CCC with no ingest; AAA has an active run."""
    lake = StockLake(spark, str(tmp_path / "lake"))
    sid = lake.get_or_create_stocks(["AAA", "BBB", "CCC"])
    lake.runs.append([new_run_row(sid["AAA"], "AAA")])
    return lake


def _listing(lake: StockLake) -> dict:
    return {name: sorted(os.listdir(os.path.join(lake.root, "control", name, d)))
            for name in ("ingestion_runs", "bulk_queue_runs")
            for d in ("data", "manifests")}


def test_control_lookups_and_commits_launch_no_job(spark, tmp_path,
                                                   jobs_during):
    fresh = StockLake(spark, str(tmp_path / "fresh"))
    assert jobs_during(lambda: fresh.get_or_create_stocks(["AAA"])) == 0
    assert fresh.stocks.latest_version() == 0

    lake = StockLake(spark, str(tmp_path / "lake"))
    lake.ingest_batch([("AAA", DOC)])
    got = {}
    assert jobs_during(lambda: got.update(ex=lake.get_or_create_dim(
        lake.exchanges, ["LSE", " nyse "], normalize=True))) == 0
    assert jobs_during(lambda: got.update(
        stocks=lake.get_or_create_stocks(["bbb"]))) == 0
    assert jobs_during(lambda: got.update(
        active=lake._active_run_ids(["AAA", "BBB"]))) == 0
    assert jobs_during(lambda: got.update(q=queue_all_stocks(lake))) == 0
    assert jobs_during(lambda: got.update(
        lse=queue_all_stocks(lake, exchange_name="nyse"))) == 0

    names = {r["name"]: r["id"] for r in lake.exchanges.read().collect()}
    assert names == {"NYSE": got["ex"]["NYSE"], "LSE": got["ex"]["LSE"]}
    assert sorted(got["stocks"]) == ["AAA", "BBB"]
    assert got["active"] == {}
    assert (got["q"]["total_stocks"], got["q"]["queued_count"]) == (2, 2)
    # AAA is on NYSE and already queued
    assert (got["lse"]["total_stocks"], got["lse"]["queued_count"]) == (1, 0)
    assert lake.runs.read().count() == 3
    assert lake.bulk_runs.read().count() == 2
    # the appends rewrote the runs as one file of one row group, not a row
    # group per append
    (d,) = lake.runs.commit_meta()["partitions"].values()
    (f,) = os.listdir(os.path.join(lake.runs.path, d))
    assert pq.read_metadata(os.path.join(lake.runs.path, d, f)).num_row_groups == 1


def test_stocks_commit_conflicts_instead_of_losing_a_stock(spark, tmp_path):
    # another handle adds a stock while a batch holds the stocks rows it
    # read: the batch's stocks commit must raise, not drop that stock
    lake = StockLake(spark, str(tmp_path / "lake"))
    lake.ingest_batch([("AAA", DOC)])
    other = StockLake(spark, lake.root)
    sync = lake.sync_stock_metadata

    def racy(tickers, stocks):
        other.get_or_create_stocks(["ZZZ"])
        return sync(tickers, stocks)

    lake.sync_stock_metadata = racy
    with pytest.raises(ConcurrentModificationError):
        lake.ingest_batch([("BBB", DOC)])
    assert sorted(r["ticker"] for r in lake.read_stocks().collect()) == [
        "AAA", "ZZZ"]


def test_two_queues_never_queue_a_stock_twice(spark, queued_lake,
                                              monkeypatch):
    # handle B queues every stock after handle A's active-run check read
    # the runs and before A commits: A must raise, not queue BBB and CCC a
    # second time
    other = StockLake(spark, queued_lake.root)
    won: dict = {}
    make = bulk.new_run_row

    def racy(*args, **kwargs):
        if not won:  # once, and not for B's own rows
            won["b"] = None
            won["b"] = queue_all_stocks(other, requested_by="b")
        return make(*args, **kwargs)

    monkeypatch.setattr(bulk, "new_run_row", racy)
    with pytest.raises(ConcurrentModificationError):
        queue_all_stocks(queued_lake, requested_by="a")

    b = won["b"]["bulk_queue_run_id"]
    active = queued_lake.read_runs().filter(~is_terminal_col(F.col("state")))
    assert sorted((r["ticker"], r["bulk_queue_run_id"])
                  for r in active.collect()) == [
        ("AAA", None), ("BBB", b), ("CCC", b)]
    assert [r["id"] for r in queued_lake.bulk_runs.read().collect()] == [b]


def test_two_handles_never_commit_one_dim_name_twice(spark, tmp_path):
    # handle B adds "nasdaq" after handle A's lookup read the exchanges and
    # before A commits "NASDAQ": A's commit must raise and A look up again,
    # so the table holds one row and both handles get its id
    lake = StockLake(spark, str(tmp_path / "lake"))
    other = StockLake(spark, lake.root)
    won: dict = {}
    read = lake.exchanges.read_arrow

    def racy(*args, **kwargs):
        got = read(*args, **kwargs)
        if not won:  # once: after A's first lookup read
            won.update(other.get_or_create_dim(other.exchanges, ["nasdaq"],
                                               normalize=True))
        return got

    lake.exchanges.read_arrow = racy
    got = lake.get_or_create_dim(lake.exchanges, ["NASDAQ"], normalize=True)

    rows = lake.exchanges.read().collect()
    assert [r["name"] for r in rows] == ["NASDAQ"]
    assert got == won == {"NASDAQ": rows[0]["id"]}


def test_driver_write_rejects_what_create_dataframe_rejects(queued_lake):
    # pyarrow alone would store a null id and truncate 1.5 to 1; the write
    # raises before any data dir or manifest is written
    queue_all_stocks(queued_lake)
    before = _listing(queued_lake)
    _, runs = queued_lake.runs.read_arrow()
    run = {**runs.to_pylist()[0], "id": None}
    with pytest.raises(ValueError, match="FIELD_NOT_NULLABLE"):
        queued_lake.runs.append([run])
    _, bulks = queued_lake.bulk_runs.read_arrow()
    row = {**bulks.to_pylist()[0], "id": "x", "total_stocks": 1.5}
    with pytest.raises(TypeError, match="FIELD_DATA_TYPE_UNACCEPTABLE"):
        queued_lake.bulk_runs.append([row])
    assert _listing(queued_lake) == before


def _instant(v):
    return None if v is None else v.timestamp()


@pytest.mark.parametrize("tz", ["UTC", "America/New_York", "Asia/Kolkata"])
def test_driver_written_timestamps_read_back_the_same_instants(spark,
                                                               tmp_path, tz):
    # Run and bulk-run rows written on the driver, with naive ``_now()``
    # stamps and with aware values from an earlier driver read (one moved
    # to +05:30), read back through Spark and through Arrow as the same
    # instants. A naive datetime converts as the Python process's local
    # time, as in createDataFrame; the suite runs in UTC, where that is the
    # UTC wall clock ``_now()`` returns. The session zone is what Spark's
    # reads consult, so it varies here.
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        lake = StockLake(spark, str(tmp_path / "lake"))
        lake.ingest_batch([("AAA", DOC), ("BBB", DOC)])
        queue_all_stocks(lake)
        ist = timezone(timedelta(hours=5, minutes=30))
        moved = datetime(2024, 3, 10, 7, 30, 15, 123456, tzinfo=ist)
        for tbl, stamp in ((lake.runs, "done_at"),
                           (lake.bulk_runs, "completed_at")):
            _, prev = tbl.read_arrow()
            copy = {**prev.to_pylist()[0], "id": "copy", stamp: moved}
            tbl.append([copy])
            _, table = tbl.read_arrow()
            arrow = {r["id"]: r for r in table.to_pylist()}
            spark_rows = {r["id"]: r.asDict() for r in tbl.read().collect()}
            assert spark_rows.keys() == arrow.keys()
            assert len(arrow) > 1
            assert arrow["copy"][stamp] == moved
            for c in (f.name for f in tbl.schema.fields
                      if isinstance(f.dataType, T.TimestampType)):
                for i, row in arrow.items():
                    assert _instant(spark_rows[i][c]) == _instant(row[c]), (i, c)
        assert lake.bulk_runs.read().schema["total_stocks"].dataType == \
            T.LongType()
        _, bulks = lake.bulk_runs.read_arrow()
        assert bulks.schema.field("total_stocks").type == pa.int64()
        assert sorted(bulks["total_stocks"].to_pylist()) == [2, 2]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
