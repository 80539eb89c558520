"""Control-plane query service (§3.2/§3.3 endpoints)."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from stock_data_etl_pipeline_spark.operators.filters import apply_filters
from stock_data_etl_pipeline_spark.operators.pagination import (
    InvalidCursorError,
    encode_cursor,
    keyset_page,
)
from stock_data_etl_pipeline_spark.plans.pipeline import RUN_ORDER, StockLake
from stock_data_etl_pipeline_spark.plans.queries import (
    latest_run_for_stock,
    list_runs,
    stock_detail,
)
from stock_data_etl_pipeline_spark.schemas import INGESTION_RUNS
from stock_data_etl_pipeline_spark.state_machine import (
    IngestionState as S,
    new_run_row,
    transition,
)

DOC = {"data": {"financials": {
    "quarterly": {"period_end_date": ["2024-03"], "revenue": [1.0]},
    "ttm": {"period_end_date": "TTM", "revenue": 4.0}},
    "metadata": {"sector": "Tech", "name": "Apple", "exchange": "NASDAQ"}}}


def _lake_with_runs(spark, tmp_path):
    lake = StockLake(spark, str(tmp_path / "lake"))
    lake.ingest_batch([("AAPL", json.dumps(DOC)), ("MSFT", json.dumps(DOC))])
    # add one FAILED and one in-progress run
    sid = {r["ticker"]: r["id"] for r in lake.read_stocks().collect()}
    extra = [new_run_row(sid["AAPL"], "AAPL"), new_run_row(sid["MSFT"], "MSFT")]
    runs = lake.read_runs().unionByName(spark.createDataFrame(extra, INGESTION_RUNS))
    runs = transition(runs, extra[0]["id"], S.FAILED,
                      error_code="API_ERROR", error_message="boom")
    lake.runs.overwrite(runs)
    return lake


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    # the read-only tests below share one built lake
    return _lake_with_runs(spark, tmp_path_factory.mktemp("query_service"))


def test_list_runs_filters_and_pagination(lake):
    assert list_runs(lake).count() == 4  # 2 DONE + FAILED + QUEUED

    failed = list_runs(lake, {"state": "FAILED"}).collect()
    assert len(failed) == 1 and failed[0]["error_code"] == "API_ERROR"

    # through-FK icontains on ticker (J3) + virtual boolean
    aapl_term = list_runs(lake, {"ticker__icontains": "aap",
                                 "is_terminal": True}).collect()
    assert {r["state"] for r in aapl_term} == {S.DONE, S.FAILED}

    in_prog = list_runs(lake, {"is_in_progress": True}).collect()
    assert [r["state"] for r in in_prog] == [S.QUEUED_FOR_FETCH]

    # keyset paging walks all rows without overlap
    p1 = list_runs(lake, page_size=2).collect()
    cursor = [p1[-1]["created_at"], p1[-1]["id"]]
    p2 = list_runs(lake, page_size=2, cursor=cursor).collect()
    ids = [r["id"] for r in p1 + p2]
    assert len(ids) == 4 and len(set(ids)) == 4


def test_stock_detail_joins_dims(lake):
    row = stock_detail(lake, " aapl ").collect()[0]
    assert row["name"] == "Apple"
    assert row["exchange_name"] == "NASDAQ"
    assert row["sector_name"] == "Tech"


def test_stock_detail_repeat_read_launches_no_job(lake, jobs_during):
    # the dims are joined once per snapshot, into rows held on the driver:
    # a repeat detail read filters them with no Spark job
    fresh = StockLake(lake.spark, lake.root)
    stock_detail(fresh, "MSFT").collect()
    assert jobs_during(lambda: stock_detail(fresh, "AAPL").collect()) == 0
    assert fresh.stock_details.builds == 1


def test_latest_run_for_stock(lake):
    newest = latest_run_for_stock(lake, "AAPL").collect()[0]
    assert newest["state"] == S.FAILED  # the most recent AAPL run
    done = latest_run_for_stock(lake, "AAPL", only_done=True).collect()[0]
    assert done["state"] == S.DONE


@pytest.mark.parametrize("only_done,want", [(False, "b2"), (True, "a2")])
def test_latest_run_for_stock_breaks_ties_by_id(tied_runs_lake, only_done,
                                                want):
    rows = latest_run_for_stock(tied_runs_lake, " aapl",
                                only_done=only_done).collect()
    assert [r["id"] for r in rows] == [want]


@pytest.mark.parametrize("only_done", [False, True])
def test_latest_run_for_stock_repeat_read_launches_no_job(tied_runs_lake,
                                                          jobs_during,
                                                          only_done):
    # the latest run per ticker is built once per runs snapshot and held on
    # the driver: a repeat read filters it with no Spark job
    latest_run_for_stock(tied_runs_lake, "MSFT", only_done=only_done).collect()
    df = latest_run_for_stock(tied_runs_lake, "AAPL", only_done=only_done)
    assert jobs_during(df.collect) == 0
    view = (tied_runs_lake.latest_done_runs if only_done
            else tied_runs_lake.latest_runs)
    assert view.builds == 1


@pytest.mark.parametrize("only_done", [False, True])
def test_latest_run_view_rows_equal_a_top_1(spark, tmp_path, only_done):
    # each ticker's view row equals a Spark top-1 over the runs table column
    # for column, timestamps to the microsecond after the Arrow round trip
    lake = StockLake(spark, str(tmp_path / "lake"))
    t0 = datetime.datetime(2024, 3, 9, 23, 59, 58, 123457)
    rows = []
    for i, (ticker, state) in enumerate([
            ("AAPL", S.DONE), ("AAPL", S.DONE), ("AAPL", S.FAILED),
            ("MSFT", S.DONE), ("MSFT", S.QUEUED_FOR_FETCH), ("IBM", S.FAILED)]):
        r = new_run_row(f"stock-{ticker}", ticker,
                        now=t0 + datetime.timedelta(seconds=i, microseconds=i))
        r.update(state=state, raw_data_uri=f"bronze/b{i}",
                 done_at=t0 + datetime.timedelta(days=i, microseconds=7 * i))
        rows.append(r)
    lake.runs.create(spark.createDataFrame(rows, INGESTION_RUNS))

    runs = lake.read_runs()
    if only_done:
        runs = runs.filter(F.col("state") == S.DONE)
    for t in ("AAPL", "MSFT", "IBM", "NONE"):
        want = (runs.filter(F.col("ticker") == t)
                .orderBy(F.col("created_at").desc(), F.col("id").desc())
                .limit(1).collect())
        got = latest_run_for_stock(lake, t, only_done=only_done).collect()
        assert [r.asDict() for r in got] == [r.asDict() for r in want]
    assert any(r["created_at"].microsecond for r in runs.collect())


def test_latest_run_reads_on_an_empty_lake_launch_no_job(spark, tmp_path,
                                                         jobs_during):
    lake = StockLake(spark, str(tmp_path / "lake"))
    got = []
    for only_done in (False, True):
        assert jobs_during(lambda: got.append(latest_run_for_stock(
            lake, "AAPL", only_done=only_done).collect())) == 0
    assert jobs_during(lambda: got.append(lake.read_raw_json("AAPL"))) == 0
    assert got == [[], [], None]


def test_opaque_cursor_round_trip_and_reverse(spark, tmp_path):
    from stock_data_etl_pipeline_spark.operators.pagination import (
        InvalidCursorError,
        decode_cursor,
        encode_cursor,
        keyset_page,
        page_cursor,
    )

    # token round-trips every cursor-able type exactly
    vals = [datetime.datetime(2024, 3, 1, 12, 30, 15, 123456),
            datetime.date(2024, 3, 1), 42, 1.5, "run-id", None, True]
    assert decode_cursor(encode_cursor(vals)) == vals
    with pytest.raises(InvalidCursorError):
        decode_cursor("not!a@cursor")

    df = spark.createDataFrame([(i, f"r{i:02d}") for i in range(10)],
                               "seq long, id string")
    order = [("seq", True), ("id", False)]  # seq DESC, id ASC

    # forward walk with opaque tokens: pages partition the relation
    p1 = keyset_page(df, order, page_size=4).collect()
    tok = page_cursor(p1[-1], order)
    assert isinstance(tok, str)
    p2 = keyset_page(df, order, cursor=tok, page_size=4).collect()
    assert [r["seq"] for r in p1] == [9, 8, 7, 6]
    assert [r["seq"] for r in p2] == [5, 4, 3, 2]

    # backward from p2's first row recovers exactly p1, in base order
    back_tok = page_cursor(p2[0], order)
    back = keyset_page(df, order, cursor=back_tok, page_size=4,
                       reverse=True).collect()
    assert [r["seq"] for r in back] == [9, 8, 7, 6]


@pytest.mark.parametrize("descending", [True, False])
def test_keyset_walk_over_a_nullable_column_reaches_every_row(spark,
                                                              descending):
    from stock_data_etl_pipeline_spark.operators.pagination import keyset_page

    # 5 of 20 rows hold a null order value: a walk must reach them where
    # orderBy puts them (last descending, first ascending)
    df = spark.range(20).select(
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id") * 10)
        .alias("v"), F.format_string("r%02d", "id").alias("id"))
    order = [("v", descending), ("id", False)]
    v = F.col("v").desc() if descending else F.col("v").asc()
    want = [r["id"] for r in df.orderBy(v, "id").collect()]
    got, cursor = [], None
    while True:
        page = keyset_page(df, order, cursor=cursor, page_size=3).collect()
        got += [r["id"] for r in page]
        if len(page) < 3:
            break
        cursor = [page[-1]["v"], page[-1]["id"]]
    assert got == want


def test_keyset_cursor_pages_compile_no_new_classes(spark):
    from stock_data_etl_pipeline_spark.operators.pagination import keyset_page

    # every cursor holds a different timestamp; after the first cursor page
    # the generated classes are reused, not compiled again per value
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    df = spark.range(60).select(
        (F.lit(1.7e9) + F.col("id") * 61.5).cast("timestamp").alias("ts"), "id")
    order = [("ts", True), ("id", True)]
    page = keyset_page(df, order, page_size=5).collect()
    seen = []
    for _ in range(6):
        page = keyset_page(df, order, cursor=[page[-1]["ts"], page[-1]["id"]],
                           page_size=5).collect()
        seen.append(compiles.getCount())
    assert len(set(seen)) == 1


def _runs(tickers, n, t0):
    """``n`` run rows: ticker ``i`` mod the tickers, state ``i // tickers``
    mod the states, so each ticker takes every state. They are created in
    threes at one instant from ``t0`` on, so ``id`` breaks ties; the ids are
    a permutation of ``n`` names, not in creation order."""
    rows = []
    for i in range(n):
        r = new_run_row(f"stock-{tickers[i % len(tickers)]}",
                        tickers[i % len(tickers)],
                        now=t0 + datetime.timedelta(seconds=i // 3,
                                                    microseconds=i // 3 % 7))
        r.update(id=f"run-{(i * 37) % n:04d}",
                 state=S.ALL[i // len(tickers) % len(S.ALL)])
        rows.append(r)
    return rows


# two non-ASCII tickers, one mixed-case: they sort after every ASCII one by
# their UTF-8 bytes, and upper-case the same under Arrow and Java
TICKERS = ["AAPL", "AMZN", "GOOG", "IBM", "META", "MSFT", "NVDA", "ORCL",
           "ÉCLAIR", "Žito"]
T0 = datetime.datetime(2024, 3, 9, 23, 59, 58, 123457)


@pytest.fixture(scope="module")
def many_runs_lake(spark, tmp_path_factory):
    # 240 runs: 24 per ticker, 30 per state, 3 per (ticker, state); every
    # FAILED run has an error code, and 7 runs have no created_at, which
    # sorts them last, among themselves by id
    lake = StockLake(spark, str(tmp_path_factory.mktemp("many_runs") / "lake"))
    rows = _runs(TICKERS, 240, T0)
    for i, r in enumerate(rows):
        if r["state"] == S.FAILED:
            r["error_code"] = "API_ERROR"
        if i % 37 == 5:
            r["created_at"] = None
    lake.runs.create(spark.createDataFrame(rows, INGESTION_RUNS))
    return lake


def _walk_equals_snapshot_pages(lake, jobs_during, filters, snapshot,
                                cursor=None):
    """Walk ``list_runs`` 10-row pages from ``cursor``, each with no Spark
    job and equal to ``keyset_page`` over ``snapshot`` (rows that already
    satisfy ``filters``) at the same cursor; the rows walked."""
    walked = 0
    while True:
        rows = []
        assert jobs_during(lambda: rows.extend(list_runs(
            lake, filters, page_size=10, cursor=cursor).collect())) == 0
        want = keyset_page(snapshot, RUN_ORDER, cursor=cursor,
                           page_size=10).collect()
        assert [r.asDict() for r in want] == [
            {k: v for k, v in r.asDict().items() if k != "is_terminal_flag"}
            for r in rows]
        assert all(r["is_terminal_flag"] == (r["state"] in S.TERMINAL)
                   for r in rows)
        walked += len(rows)
        if len(rows) < 10:
            return walked
        cursor = [rows[-1]["created_at"], rows[-1]["id"]]


# every lookup compile_filter takes, the benchmark's walk shapes (a ticker
# bound, with no further filter, a state or the is_terminal flag) and the
# virtual booleans, each with the SQL predicate it stands for. The rlike
# pattern is in the part of the syntax RE2 (Arrow) and java.util.regex
# (Spark) share.
@pytest.mark.parametrize("filters,pred", [
    ({"ticker__gte": "GOOG"}, "ticker >= 'GOOG'"),
    ({"ticker__gte": "GOOG", "state": S.DONE},
     "ticker >= 'GOOG' AND state = 'DONE'"),
    ({"ticker__gte": "GOOG", "is_terminal": False},
     "ticker >= 'GOOG' AND state NOT IN ('DONE', 'FAILED')"),
    ({"ticker__lte": "MSFT"}, "ticker <= 'MSFT'"),
    ({"ticker__lte": "MSFT", "state": S.FAILED},
     "ticker <= 'MSFT' AND state = 'FAILED'"),
    ({"ticker__lte": "MSFT", "is_terminal": True},
     "ticker <= 'MSFT' AND state IN ('DONE', 'FAILED')"),
    ({"ticker__icontains": "m"}, "upper(ticker) LIKE '%M%'"),
    ({"ticker__icontains": "ži"}, "upper(ticker) LIKE '%ŽI%'"),
    ({"ticker__iexact": "éclair"}, "upper(ticker) = 'ÉCLAIR'"),
    ({"ticker__gt": "NVDA", "ticker__lt": "Ž"}, "ticker > 'NVDA' AND ticker < 'Ž'"),
    ({"state__in": [S.DONE, S.FETCHING, None]},
     "state IN ('DONE', 'FETCHING')"),
    ({"ticker__not_in": ["AAPL", "Žito"]}, "ticker NOT IN ('AAPL', 'Žito')"),
    ({"error_code__isnull": False}, "error_code IS NOT NULL"),
    ({"created_at__isnull": True}, "created_at IS NULL"),
    ({"ticker__rlike": "^[A-M].*[LT]$"}, "ticker RLIKE '^[A-M].*[LT]$'"),
    ({"is_in_progress": True}, "state NOT IN ('DONE', 'FAILED')"),
    ({"is_in_progress": False, "state__not_in": [S.FAILED]},
     "state = 'DONE'"),
], ids=["gte", "gte-state", "gte-terminal", "lte", "lte-state",
        "lte-terminal", "icontains", "icontains-non-ascii", "iexact",
        "gt-lt", "in", "not-in", "isnull-false", "isnull-true", "rlike",
        "in-progress", "done"])
def test_list_runs_pages_launch_no_job_and_equal_a_snapshot_top_k(
        many_runs_lake, jobs_during, filters, pred):
    # the runs view is built once per runs snapshot; every page after that,
    # with or without a cursor, is a slice of its Arrow rows with no Spark
    # job, and holds the rows a sort of the Spark snapshot pages to, also
    # where created_at ties or is null
    lake = many_runs_lake
    list_runs(lake).collect()
    snapshot = lake.read_runs().filter(pred)
    n = snapshot.count()
    assert _walk_equals_snapshot_pages(lake, jobs_during, filters,
                                       snapshot) == n
    assert n > (5 if "created_at__isnull" in filters else 10)
    assert lake.runs_by_recency.builds == 1


@pytest.mark.parametrize("cursor", [
    [T0 + datetime.timedelta(seconds=20, microseconds=500), "run-9999"],
    [T0 + datetime.timedelta(seconds=20, microseconds=6), "run-0000"],
    [T0 + datetime.timedelta(days=1), "zzz"],
    [None, "run-0150"],
    [T0 - datetime.timedelta(days=1), "run-0000"],
], ids=["between-instants", "inside-a-tie", "after-the-newest",
        "among-the-nulls", "before-the-oldest"])
def test_list_runs_cursor_off_the_view_equals_a_snapshot_top_k(
        many_runs_lake, jobs_during, cursor):
    # a cursor whose row is not in the view still pages from its place in
    # the order, as the Spark top-K does
    lake = many_runs_lake
    snapshot = lake.read_runs().filter("state != 'FAILED'")
    assert _walk_equals_snapshot_pages(
        lake, jobs_during, {"state__not_in": [S.FAILED]}, snapshot,
        cursor=cursor) >= 0


@pytest.mark.parametrize("tz", ["UTC", "America/New_York", "Asia/Kolkata"])
def test_list_runs_timestamp_bounds_equal_spark_under_each_session_zone(
        many_runs_lake, jobs_during, tz):
    # naive bounds convert as the Python process's local time and aware ones
    # as their instant, in F.lit and in the Arrow filter alike; the session
    # zone must move neither side. ``lo`` is the instant of three tied runs.
    ist = datetime.timezone(datetime.timedelta(hours=5, minutes=30))
    lo = T0 + datetime.timedelta(seconds=12, microseconds=12 % 7)
    hi = (T0 + datetime.timedelta(seconds=55)).replace(
        tzinfo=datetime.timezone.utc).astimezone(ist)
    spark = many_runs_lake.spark
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        for filters in ({"created_at__gte": lo, "created_at__lt": hi},
                        {"created_at__gt": lo, "created_at__lte": hi},
                        {"created_at__exact": lo},
                        {"created_at__in": [lo, hi]}):
            snapshot = apply_filters(many_runs_lake.read_runs(), filters)
            n = snapshot.count()
            assert _walk_equals_snapshot_pages(
                many_runs_lake, jobs_during, filters, snapshot) == n
            assert n > 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


@pytest.mark.parametrize("key,value,match", [
    ("is_completed", True, "is_completed"),
    ("has_errors", False, "has_errors"),
    ("no_such_column__gte", 1, "no_such_column"),
    ("state__startswith", "D", "startswith"),
])
def test_list_runs_rejects_an_unknown_filter_before_reading(lake, key, value,
                                                            match):
    # is_completed and has_errors are bulk-run filters (P8/P9): the runs
    # list raises ValueError naming them, or an unknown lookup, before it
    # reads or builds anything
    fresh = StockLake(lake.spark, lake.root)
    with pytest.raises(ValueError, match=match):
        list_runs(fresh, {"state": S.DONE, key: value})
    assert fresh.runs_by_recency.builds == 0


def test_list_runs_pages_stay_stable_under_inserts(spark, tmp_path):
    # page 2 continues page 1 of the order the client started from, even
    # after new runs commit in between and the view rebuilds
    lake = StockLake(spark, str(tmp_path / "lake"))
    t0 = datetime.datetime(2024, 3, 9, 12)
    lake.runs.create(spark.createDataFrame(_runs(TICKERS, 30, t0),
                                           INGESTION_RUNS))
    before = [r["id"] for r in list_runs(lake, page_size=100).collect()]
    p1 = list_runs(lake, page_size=10).collect()

    newer = _runs(TICKERS, 5, t0 + datetime.timedelta(hours=1))
    for r in newer:
        r["id"] = "new-" + r["id"]
    lake.runs.append(newer)

    p2 = list_runs(lake, page_size=10,
                   cursor=[p1[-1]["created_at"], p1[-1]["id"]]).collect()
    assert [r["id"] for r in p1 + p2] == before[:20]
    assert lake.runs_by_recency.builds == 2
    # a walk started now begins with the new runs
    top = [r["id"] for r in list_runs(lake, page_size=5).collect()]
    assert sorted(top) == sorted(r["id"] for r in newer)


@pytest.mark.parametrize("values", [
    ["created_at"],
    ["created_at", "id", "extra"],
    ["2024-03-09 12:00:00", "id"],
], ids=["too-few-values", "too-many-values", "string-for-timestamp"])
def test_malformed_cursor_raises_invalid_cursor(lake, values):
    # a cursor that does not match the order's columns in number or type
    # is a bad cursor (the reference's 404), raised before any plan runs,
    # as a value tuple or as a token, on both paging paths
    last = list_runs(lake).collect()[-1]
    cursor = [last[v] if v in ("created_at", "id") else v for v in values]
    for bad in (cursor, encode_cursor(cursor)):
        with pytest.raises(InvalidCursorError):
            list_runs(lake, cursor=bad)
        with pytest.raises(InvalidCursorError):
            keyset_page(lake.read_runs(), RUN_ORDER, cursor=bad)
    # nulls are cursor values: nothing follows a null created_at, which
    # sorts last descending
    assert list_runs(lake, cursor=[None, None]).collect() == []


@pytest.mark.parametrize("page_size,want", [(0, 50), (-1, 50), (500, 100)])
def test_out_of_range_page_size_reads_as_default_or_max(many_runs_lake,
                                                        page_size, want):
    # DRF's get_page_size: a non-positive size reads as the default (50),
    # and a size over the maximum as the maximum (100)
    ids = [r["id"] for r in list_runs(many_runs_lake, page_size=100).collect()]
    got = [r["id"] for r in list_runs(many_runs_lake,
                                      page_size=page_size).collect()]
    assert got == ids[:want]
    snap = keyset_page(many_runs_lake.read_runs(), RUN_ORDER,
                       page_size=page_size).collect()
    assert [r["id"] for r in snap] == ids[:want]
