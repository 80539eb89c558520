"""Characterization of one mixed ``fetch_and_ingest`` batch: every
observable output of the ingest path, pinned with run ids replaced by
tickers and timestamps by their null pattern and phase order.

The batch holds a new ticker, a re-ingest, an invalid JSON payload, a
payload without ``data``, a 404, a 429 and a ticker with an active run
(skipped). The lake before it: one ``ingest_batch`` of OLD and BUSY, plus
a planted in-flight run for BUSY.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from stock_data_etl_pipeline_spark.plans.pipeline import StockLake
from stock_data_etl_pipeline_spark.schemas import INGESTION_RUNS
from stock_data_etl_pipeline_spark.state_machine import (
    STATE_TIMESTAMP_COLUMN,
    IngestionState as S,
    new_run_row,
)


def _doc(name, exchange, sector, quarters, revenue, ttm):
    return {"data": {
        "financials": {
            "quarterly": {"period_end_date": quarters, "revenue": revenue},
            "ttm": {"period_end_date": "TTM", "revenue": ttm}},
        "metadata": {"name": name, "exchange": exchange, "sector": sector,
                     "country": "US"}}}


OLD_V1 = _doc("Old Corp", "NASDAQ", "Tech", ["2024-03", "2024-06"], [1.0, 2.0], 3.0)
# restates 2024-06, adds 2024-09, renames; same dims in another case
OLD_V2 = _doc("Old Corp.", " nasdaq ", "tech", ["2024-06", "2024-09"], [2.5, 4.0], 6.5)
BUSY_DOC = _doc("Busy Inc", "NASDAQ", "Tech", ["2024-03"], [7.0], 7.0)
NEW_DOC = _doc("New Co", "Nasdaq", "TECH", ["2023-12", "2024-03"], [5.0, 6.0], 11.0)

RESPONSES = {
    "NEW": (200, json.dumps(NEW_DOC)),
    "OLD": (200, json.dumps(OLD_V2)),
    "BADJ": (200, "{garbage"),
    "NODATA": (200, json.dumps({"meta": {"name": "x"}})),
    "GONE": (404, ""),
    "LIMIT": (429, ""),
    "BUSY": (200, json.dumps(BUSY_DOC)),
}
BATCH = ["new", "OLD", "BADJ", "nodata", "GONE", "BUSY", "LIMIT"]
TABLES = ("runs", "silver", "stocks", "exchanges", "sectors", "bulk_runs")
PHASES = [S.QUEUED_FOR_FETCH, S.FETCHING, S.FETCHED, S.QUEUED_FOR_DELTA,
          S.DELTA_RUNNING, S.DELTA_FINISHED, S.DONE, S.FAILED]
STAMPS = [STATE_TIMESTAMP_COLUMN[s] for s in PHASES]
INVALID_MSG = "payload is not a JSON object with a 'data' key"


def _manifests(lake: StockLake) -> dict[str, int]:
    out = {}
    for name in TABLES:
        d = os.path.join(getattr(lake, name).path, "manifests")
        out[name] = len(os.listdir(d)) if os.path.isdir(d) else 0
    return out


def _rows(df, key):
    return {r[key]: r.asDict() for r in df.collect()}


@pytest.fixture(scope="module")
def mixed(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mixed") / "lake")
    calls = []
    lake = StockLake(spark, root, on_run_failed=lambda *a: calls.append(
        (a, lake.runs.read().filter(F.col("id") == a[0]).collect())))
    lake.ingest_batch([("OLD", json.dumps(OLD_V1)),
                       ("BUSY", json.dumps(BUSY_DOC))])
    sid = {r["ticker"]: r["id"] for r in lake.read_stocks().collect()}
    active = new_run_row(sid["BUSY"], "BUSY")
    lake.runs.overwrite(lake.read_runs().unionByName(
        spark.createDataFrame([active], INGESTION_RUNS)))

    before = {"runs": _rows(lake.read_runs(), "id"),
              "stocks": _rows(lake.read_stocks(), "ticker"),
              "exchanges": _rows(lake.exchanges.read(), "id"),
              "sectors": _rows(lake.sectors.read(), "id"),
              "manifests": _manifests(lake)}
    out = lake.fetch_and_ingest(BATCH, lambda t: RESPONSES[t],
                                requested_by="tester")
    after = {"runs": _rows(lake.read_runs(), "id"),
             "stocks": _rows(lake.read_stocks(), "ticker"),
             "exchanges": _rows(lake.exchanges.read(), "id"),
             "sectors": _rows(lake.sectors.read(), "id"),
             "manifests": _manifests(lake)}
    new_runs = {r["ticker"]: r for i, r in after["runs"].items()
                if i not in before["runs"]}
    return {"lake": lake, "out": out, "calls": calls, "active": active,
            "before": before, "after": after, "new_runs": new_runs}


def test_return_dict(mixed):
    out, runs = mixed["out"], mixed["after"]["runs"]
    tick = {i: r["ticker"] for i, r in runs.items()}
    assert set(out) == {"batch_id", "run_ids", "skipped", "n_silver_rows",
                        "failed", "failed_run_ids"}
    assert len(out["batch_id"]) == 12
    assert [tick[i] for i in out["run_ids"]] == ["NEW", "OLD", "NODATA"]
    assert out["skipped"] == {"BUSY": mixed["active"]["id"]}
    assert out["failed"] == {"BADJ": "INVALID_JSON", "GONE": "NOT_FOUND",
                             "LIMIT": "RATE_LIMITED"}
    assert [tick[i] for i in out["failed_run_ids"]] == ["BADJ", "GONE", "LIMIT"]
    assert out["n_silver_rows"] == mixed["lake"].silver.read().count() == 13


def test_run_states_errors_and_uris(mixed):
    lake, new = mixed["lake"], mixed["new_runs"]
    bronze = os.path.join(lake.root, "bronze", mixed["out"]["batch_id"])
    got = {t: (r["state"], r["error_code"], r["error_message"],
               r["raw_data_uri"], r["processed_data_uri"])
           for t, r in new.items()}
    assert got == {
        "NEW": (S.DONE, None, None, bronze, lake.silver.path),
        "OLD": (S.DONE, None, None, bronze, lake.silver.path),
        "NODATA": (S.FAILED, "INVALID_DATA_FORMAT", INVALID_MSG, bronze, None),
        "BADJ": (S.FAILED, "INVALID_JSON",
                 "fetch failed for BADJ: INVALID_JSON", None, None),
        "GONE": (S.FAILED, "NOT_FOUND", "fetch failed for GONE: NOT_FOUND",
                 None, None),
        "LIMIT": (S.FAILED, "RATE_LIMITED",
                  "fetch failed for LIMIT: RATE_LIMITED", None, None),
    }
    stocks = mixed["after"]["stocks"]
    for t, r in new.items():
        assert r["stock_id"] == stocks[t]["id"]
        assert r["requested_by"] == "tester"
        assert r["bulk_queue_run_id"] is None
        assert r["request_id"]


def test_timestamp_pattern_and_phase_order(mixed):
    new = mixed["new_runs"]
    done = STAMPS[:7]
    invalid = STAMPS[:5] + ["failed_at"]
    fetch_failed = ["queued_for_fetch_at", "failed_at"]
    want = {"NEW": done, "OLD": done, "NODATA": invalid,
            "BADJ": fetch_failed, "GONE": fetch_failed, "LIMIT": fetch_failed}
    for t, r in new.items():
        set_cols = [c for c in STAMPS if r[c] is not None]
        assert set_cols == want[t], t
        vals = [r[c] for c in set_cols]
        assert vals == sorted(vals), t
        assert r["created_at"] == r["queued_for_fetch_at"], t
        assert r["updated_at"] == vals[-1], t


def test_untouched_runs_and_skip(mixed):
    before, after = mixed["before"]["runs"], mixed["after"]["runs"]
    assert {i: after[i] for i in before} == before
    busy = [r for r in after.values() if r["ticker"] == "BUSY"]
    assert sorted(r["state"] for r in busy) == [S.DONE, S.QUEUED_FOR_FETCH]
    assert len(after) == len(before) + 6


def test_stocks_and_dims(mixed):
    before, after = mixed["before"], mixed["after"]
    stocks = after["stocks"]
    assert set(stocks) == {"OLD", "BUSY", "NEW", "NODATA", "BADJ", "GONE",
                           "LIMIT"}
    assert stocks["BUSY"] == before["stocks"]["BUSY"]
    assert stocks["OLD"]["id"] == before["stocks"]["OLD"]["id"]
    assert stocks["OLD"]["updated_at"] > before["stocks"]["OLD"]["updated_at"]
    assert after["exchanges"] == before["exchanges"]
    assert after["sectors"] == before["sectors"]
    exch = {i: r["name"] for i, r in after["exchanges"].items()}
    sect = {i: r["name"] for i, r in after["sectors"].items()}
    assert sorted(exch.values()) == ["NASDAQ"]
    assert sorted(sect.values()) == ["Tech"]
    meta = {t: (r["name"], r["country"], exch.get(r["exchange_id"]),
                sect.get(r["sector_id"])) for t, r in stocks.items()}
    assert meta == {
        "OLD": ("Old Corp.", "US", "NASDAQ", "Tech"),
        "BUSY": ("Busy Inc", "US", "NASDAQ", "Tech"),
        "NEW": ("New Co", "US", "NASDAQ", "Tech"),
        "NODATA": (None, None, None, None),
        "BADJ": (None, None, None, None),
        "GONE": (None, None, None, None),
        "LIMIT": (None, None, None, None),
    }


def test_silver_keys_and_raw_json(mixed):
    lake = mixed["lake"]
    keys = {tuple(r) for r in lake.silver.read()
            .select("ticker", "record_type", "period_end_date").collect()}
    fin = {(t, "financials", p) for t, ps in (
        ("OLD", ["2024-03", "2024-06", "2024-09"]), ("BUSY", ["2024-03"]),
        ("NEW", ["2023-12", "2024-03"])) for p in ps}
    # the first OLD document's TTM row keeps its own period key
    ttm = {("OLD", "ttm", "2024-06"), ("OLD", "ttm", "2024-09"),
           ("BUSY", "ttm", "2024-03"),
           ("NEW", "ttm", "2024-03")}
    meta = {(t, "metadata", None) for t in ("OLD", "BUSY", "NEW")}
    assert keys == fin | ttm | meta
    restated = (lake.silver.read()
                .filter((F.col("ticker") == "OLD")
                        & (F.col("period_end_date") == "2024-06")
                        & (F.col("record_type") == "financials"))
                .collect())
    assert [r["revenue"] for r in restated] == [2.5]
    assert lake.read_raw_json("NEW") == RESPONSES["NEW"][1]
    assert lake.read_raw_json("OLD") == RESPONSES["OLD"][1]
    assert lake.read_raw_json("GONE") is None


def test_failure_callbacks_after_commit(mixed):
    calls = mixed["calls"]
    runs = mixed["after"]["runs"]
    got = [(runs[a[0]]["ticker"], a[1], a[2], a[3]) for a, _ in calls]
    assert got == [
        ("NODATA", "NODATA", "INVALID_DATA_FORMAT", INVALID_MSG),
        ("BADJ", "BADJ", "INVALID_JSON", "fetch failed for BADJ: INVALID_JSON"),
        ("GONE", "GONE", "NOT_FOUND", "fetch failed for GONE: NOT_FOUND"),
        ("LIMIT", "LIMIT", "RATE_LIMITED",
         "fetch failed for LIMIT: RATE_LIMITED"),
    ]
    for a, committed in calls:
        assert [(r["state"], r["error_code"]) for r in committed] == \
            [(S.FAILED, a[2])]


def test_commits_per_table(mixed):
    """One batch commits ``runs`` once, ``silver`` at most once, ``stocks``
    once (new tickers and the metadata sync together), and no dimension
    table when it brings no new exchange or sector name."""
    before, after = mixed["before"]["manifests"], mixed["after"]["manifests"]
    delta = {t: after[t] - before[t] for t in TABLES}
    assert delta["runs"] == 1
    assert delta["silver"] <= 1
    assert delta["stocks"] == 1
    assert delta["exchanges"] == 0 and delta["sectors"] == 0
    assert delta["bulk_runs"] == 0
