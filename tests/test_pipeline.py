"""End-to-end data-plane test: the §3.1 flagship path on fixture docs."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from stock_data_etl_pipeline_spark.plans.pipeline import StockLake
from stock_data_etl_pipeline_spark.plans.queries import stock_detail
from stock_data_etl_pipeline_spark.schemas import INGESTION_RUNS
from stock_data_etl_pipeline_spark.state_machine import IngestionState as S

DOC = {
    "data": {
        "financials": {
            "quarterly": {"period_end_date": ["2024-03", "2024-06"],
                          "revenue": [10.0, 20.0]},
            "ttm": {"period_end_date": "TTM", "revenue": 30.0},
        },
        "metadata": {"sector": "Tech", "name": "Apple Inc",
                     "exchange": " nasdaq ", "country": "US"},
    }
}


def test_ingest_batch_end_to_end(spark, tmp_path):
    lake = StockLake(spark, str(tmp_path / "lake"))
    res = lake.ingest_batch([("aapl", json.dumps(DOC))])

    # silver: 2 financials + 1 ttm + 1 metadata
    silver = lake.silver.read()
    assert silver.count() == 4
    ttm = silver.filter(F.col("record_type") == "ttm").collect()[0]
    assert ttm["period_end_date"] == "2024-06"

    # runs reached DONE with all phase timestamps
    run = lake.runs.read().collect()[0]
    assert run["state"] == S.DONE
    assert run["raw_data_uri"] and run["processed_data_uri"]
    assert run["done_at"] is not None

    # metadata sync: stock row carries name, FK-resolved dims
    stock = lake.stocks.read().collect()[0]
    assert stock["ticker"] == "AAPL"
    assert stock["name"] == "Apple Inc"
    assert stock["exchange_id"] is not None and stock["sector_id"] is not None
    exch = lake.exchanges.read().collect()[0]
    assert exch["name"] == "NASDAQ"  # normalized UPPER+trim
    sect = lake.sectors.read().collect()[0]
    assert sect["name"] == "Tech"  # case preserved

    # idempotency: re-ingesting the same doc leaves silver unchanged
    lake.ingest_batch([("AAPL", json.dumps(DOC))])
    assert lake.silver.read().count() == 4


def test_second_batch_updates_and_extends(spark, tmp_path):
    lake = StockLake(spark, str(tmp_path / "lake"))
    lake.ingest_batch([("AAPL", json.dumps(DOC))])

    doc2 = json.loads(json.dumps(DOC))
    doc2["data"]["financials"]["quarterly"] = {
        "period_end_date": ["2024-06", "2024-09"],
        "revenue": [21.0, 40.0],       # restated 2024-06
        "eps": [1.0, 2.0],             # brand-new metric column
    }
    doc2["data"]["metadata"]["name"] = "Apple Inc."
    doc2["data"]["metadata"]["country"] = "N/A"      # null sentinel
    lake.ingest_batch([("AAPL", json.dumps(doc2))])

    silver = lake.silver.read()
    fin = {r["period_end_date"]: r.asDict()
           for r in silver.filter(F.col("record_type") == "financials").collect()}
    assert set(fin) == {"2024-03", "2024-06", "2024-09"}
    assert fin["2024-06"]["revenue"] == 21.0          # updated in place
    assert fin["2024-09"]["eps"] == 2.0               # schema evolved
    assert fin["2024-03"]["eps"] is None              # old rows null-filled

    stock = lake.stocks.read().collect()[0]
    assert stock["name"] == "Apple Inc."              # changed field synced
    assert stock["country"] == "US"                   # a null never overwrites

    # two DONE runs; latest-per-stock window sees the newer one
    runs = lake.runs.read()
    assert runs.filter(F.col("state") == S.DONE).count() == 2

    # the same payload again changes no stock field: no stocks commit
    v = lake.stocks.latest_version()
    lake.ingest_batch([("AAPL", json.dumps(doc2))])
    assert lake.stocks.latest_version() == v
    assert lake.stocks.read().collect()[0]["updated_at"] == stock["updated_at"]


def test_dim_get_or_create_case_rules(spark, tmp_path):
    lake = StockLake(spark, str(tmp_path / "lake"))
    doc_a = json.loads(json.dumps(DOC))
    doc_b = json.loads(json.dumps(DOC))
    doc_b["data"]["metadata"]["sector"] = "tech"       # same sector, diff case
    doc_b["data"]["metadata"]["exchange"] = "Nasdaq"   # same exchange, diff case
    doc_c = json.loads(json.dumps(DOC))
    doc_c["data"]["metadata"]["sector"] = "tech\n"     # strip() drops \n
    doc_c["data"]["metadata"]["exchange"] = "nasdaq\t"  # and \t
    def names(ticker):
        row = stock_detail(lake, ticker).collect()[0]
        return row["exchange_name"], row["sector_name"]

    # stock detail's cached join follows every commit of the three tables
    lake.ingest_batch([("AAPL", json.dumps(doc_a))])
    assert names("AAPL") == ("NASDAQ", "Tech")
    lake.ingest_batch([("MSFT", json.dumps(doc_b))])
    assert names("MSFT") == ("NASDAQ", "Tech")
    lake.ingest_batch([("IBM", json.dumps(doc_c))])
    assert names("IBM") == names("AAPL") == ("NASDAQ", "Tech")
    # matched case-insensitively -> still one row each
    assert lake.sectors.read().count() == 1
    assert lake.exchanges.read().count() == 1
    # sector kept its first-seen case
    assert lake.sectors.read().collect()[0]["name"] == "Tech"
    # all three stocks resolve to the same dim ids
    stocks = {r["ticker"]: r for r in lake.stocks.read().collect()}
    for t in ("MSFT", "IBM"):
        assert stocks[t]["sector_id"] == stocks["AAPL"]["sector_id"]
        assert stocks[t]["exchange_id"] == stocks["AAPL"]["exchange_id"]
    assert stocks["AAPL"]["exchange_id"] is not None

    # names that all exist commit nothing and map to the existing ids
    v = lake.exchanges.latest_version()
    ids = lake.get_or_create_dim(lake.exchanges,
                                 ["NASDAQ", " nasdaq\t", None, " "],
                                 normalize=True)
    assert lake.exchanges.latest_version() == v
    assert ids == {"NASDAQ": stocks["AAPL"]["exchange_id"]}

    # a commit to a dim alone (stocks unchanged), by another handle on the
    # same root, rebuilds the join too, once for every read that follows
    builds = lake.stock_details.builds
    other = StockLake(spark, lake.root)
    other.sectors.overwrite(other.sectors.read().withColumn(
        "name", F.lit("Technology")))
    assert names("AAPL") == names("MSFT") == ("NASDAQ", "Technology")
    assert lake.stock_details.builds == builds + 1


def test_batch_dedupes_tickers_first_payload_wins(spark, tmp_path):
    lake = StockLake(spark, str(tmp_path / "lake"))
    doc2 = json.loads(json.dumps(DOC))
    doc2["data"]["metadata"]["name"] = "Second Payload"
    res = lake.ingest_batch([("AAPL", json.dumps(DOC)),
                             (" aapl ", json.dumps(doc2))])
    # one run, one stock; the first payload's metadata won
    assert len(res["run_ids"]) == 1
    assert lake.read_stocks().count() == 1
    assert lake.stocks.read().collect()[0]["name"] == "Apple Inc"
    assert lake.runs.read().count() == 1


def test_batch_skips_stocks_with_active_run(spark, tmp_path):
    from stock_data_etl_pipeline_spark.state_machine import new_run_row
    lake = StockLake(spark, str(tmp_path / "lake"))
    lake.ingest_batch([("AAPL", json.dumps(DOC))])
    # plant a non-terminal run for MSFT (as if another request is mid-flight)
    sid = lake.get_or_create_stocks(["MSFT"])
    active = new_run_row(sid["MSFT"], "MSFT")
    lake.runs.overwrite(lake.read_runs().unionByName(
        spark.createDataFrame([active], INGESTION_RUNS)))

    res = lake.ingest_batch([("MSFT", json.dumps(DOC)),
                             ("GOOG", json.dumps(DOC))])
    # MSFT skipped (created=False path, existing run id reported);
    # GOOG ingested
    assert res["skipped"] == {"MSFT": active["id"]}
    assert len(res["run_ids"]) == 1
    runs = {(r["ticker"], r["state"]) for r in lake.runs.read().collect()}
    # MSFT's planted run is untouched (still the only MSFT run, still
    # queued); GOOG went through to DONE
    assert ("MSFT", S.QUEUED_FOR_FETCH) in runs
    assert ("MSFT", S.DONE) not in runs
    assert ("GOOG", S.DONE) in runs


def _doc(revenue, **metadata):
    return json.dumps({"data": {
        "financials": {"quarterly": {"period_end_date": ["2024-03", "2024-06"],
                                     "revenue": revenue},
                       "ttm": {"period_end_date": "TTM", "revenue": revenue[-1]}},
        "metadata": {"name": "X", **metadata}}})


@pytest.mark.parametrize("first, second, want", [
    # numeric batch first: its doubles render as strings after the merge
    (["100", "200"], ["1.2B", "3B"],
     {"AAA": ["100.0", "200.0"], "BBB": ["1.2B", "3B"]}),
    # string batch first: the later numeric batch merges into a string column
    (["1.2B", "3B"], ["100", "200"],
     {"AAA": ["1.2B", "3B"], "BBB": ["100.0", "200.0"]}),
], ids=["double_then_string", "string_then_double"])
def test_string_and_double_batches_merge_as_string(spark, tmp_path,
                                                   first, second, want):
    # the transform types a metric column per batch (double when every
    # value parses, else string); a string and a double side of the same
    # column must merge as string, never as a failing cast to double
    lake = StockLake(spark, str(tmp_path / "lake"))
    lake.ingest_batch([("AAA", _doc(first))])
    lake.ingest_batch([("BBB", _doc(second))])

    assert {(r["ticker"], r["state"]) for r in lake.read_runs().collect()} \
        == {("AAA", S.DONE), ("BBB", S.DONE)}
    silver = lake.silver.read()
    assert silver.schema["revenue"].dataType == StringType()
    got = {}
    for r in (silver.filter(F.col("record_type") == "financials")
              .orderBy("ticker", "period_end_date").collect()):
        got.setdefault(r["ticker"], []).append(r["revenue"])
    assert got == want


def test_type_change_in_one_partition_rewrites_every_partition(spark,
                                                               tmp_path):
    # batch 2 touches only the metadata partition, but turns 'employees'
    # (double in every silver dir) into string: every partition is
    # rewritten so all dirs of the version store the column as string
    lake = StockLake(spark, str(tmp_path / "lake"))
    lake.ingest_batch([("AAA", _doc(["100", "200"], employees="100"))])
    dirs0 = set(lake.silver._read_manifest(lake.silver.latest_version()).values())
    lake.ingest_batch([("BBB", json.dumps(
        {"data": {"metadata": {"name": "B", "employees": "many"}}}))])
    dirs1 = lake.silver._read_manifest(lake.silver.latest_version())

    assert {r["state"] for r in lake.read_runs().collect()} == {S.DONE}
    assert len(dirs1) == 3 and not dirs0 & set(dirs1.values())
    silver = lake.silver.read()
    assert silver.schema["employees"].dataType == StringType()
    assert silver.schema["revenue"].dataType == DoubleType()
    meta = {r["ticker"]: r["employees"] for r in
            silver.filter(F.col("record_type") == "metadata").collect()}
    assert meta == {"AAA": "100.0", "BBB": "many"}
    fin = sorted(r["revenue"] for r in
                 silver.filter(F.col("record_type") == "financials").collect())
    assert fin == [100.0, 200.0]


def test_column_without_values_keeps_the_table_type(spark, tmp_path):
    # a TTM-only doc yields no financials or ttm row, so the batch's
    # 'revenue' column holds no value and the transform types it string;
    # it must not turn silver's double 'revenue' into string, nor rewrite
    # the financials and ttm partitions it never touches
    lake = StockLake(spark, str(tmp_path / "lake"))
    lake.ingest_batch([("AAA", _doc([100.0, 200.0]))])
    dirs0 = lake.silver._read_manifest(lake.silver.latest_version())
    lake.ingest_batch([("BBB", json.dumps({"data": {
        "financials": {"ttm": {"period_end_date": "TTM", "revenue": 5.0}},
        "metadata": {"name": "B"}}}))])
    dirs1 = lake.silver._read_manifest(lake.silver.latest_version())

    assert {r["state"] for r in lake.read_runs().collect()} == {S.DONE}
    silver = lake.silver.read()
    assert silver.schema["revenue"].dataType == DoubleType()
    assert {pk: d for pk, d in dirs1.items() if "metadata" not in pk} \
        == {pk: d for pk, d in dirs0.items() if "metadata" not in pk}
    assert len(dirs1) == 3
    rows = {(r["ticker"], r["record_type"], r["revenue"])
            for r in silver.collect()}
    assert rows == {("AAA", "financials", 100.0), ("AAA", "financials", 200.0),
                    ("AAA", "ttm", 200.0), ("AAA", "metadata", None),
                    ("BBB", "metadata", None)}
