"""Bulk queue-all-stocks: A3 counter accounting + M5 batched backfill.

Reference: services/workers/tasks/queue_all_stocks_for_fetch.py — iterate
all stocks sorted by ticker (O3), skip stocks with an active run, create
QUEUED_FOR_FETCH runs linked to a BulkQueueRun, maintain
total/queued/skipped/error counters with atomic DB increments (A3) and
backfill the bulk FK with bulk_update batches of 100 (M5).

Spark restatement: the counters are counted on the driver, where the new
run rows are built, instead of mutable increments: every queued row lands
in ONE append of the runs table, so ``queued_count`` is exactly the number
of rows appended, and the bulk row lands in one append of its own. Both
commit at the version they read + 1, so a concurrent writer's runs make
this queue raise instead of vanishing.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import key_of
from ..state_machine import IngestionState, is_terminal_col, new_run_row
from .pipeline import StockLake


def _now() -> datetime:
    return datetime.now(tz=timezone.utc).replace(tzinfo=None)


def queue_all_stocks(lake: StockLake, requested_by: str | None = None,
                     exchange_name: str | None = None) -> dict:
    """Queue every stock (optionally one exchange's) for fetch under a new
    BulkQueueRun. Returns the counter dict; the runs + bulk tables are
    appended to once each.
    """
    started = _now()
    bulk_id = str(uuid.uuid4())

    stocks = lake.read_stocks()
    if exchange_name is not None:
        # one collect of the cached snapshot; no match filters on a null id,
        # which keeps no row
        ids = {key_of(r["name"]): r["id"] for r in lake.exchanges.read().collect()}
        stocks = stocks.filter(
            F.col("exchange_id") == F.lit(ids.get(key_of(exchange_name))))

    # O3: deterministic iteration order
    all_stocks = [(r["id"], r["ticker"]) for r in
                  stocks.select("id", "ticker").orderBy("ticker").collect()]
    total = len(all_stocks)

    active_stock_ids = {
        r["stock_id"] for r in
        lake.read_runs().filter(~is_terminal_col(F.col("state")))
        .select("stock_id").distinct().collect()}

    to_queue = [(sid, t) for sid, t in all_stocks if sid not in active_stock_ids]
    skipped = total - len(to_queue)

    errors = 0
    rows = []
    for sid, ticker in to_queue:
        try:
            rows.append(new_run_row(sid, ticker, bulk_queue_run_id=bulk_id,
                                    requested_by=requested_by, now=started))
        except Exception:  # noqa: BLE001 — per-stock isolation (reference :258-291)
            errors += 1
    if rows:
        # M5: the whole backfill is ONE append, not N saves
        lake.runs.append(lake.spark.createDataFrame(rows, lake.runs.schema))
    queued = len(rows)
    lake.bulk_runs.append(lake.spark.createDataFrame(
        [(bulk_id, requested_by, total, queued, skipped, errors,
          started, started, _now())], lake.bulk_runs.schema))
    return {"bulk_queue_run_id": bulk_id, "total_stocks": total,
            "queued_count": queued, "skipped_count": skipped,
            "error_count": errors}


def bulk_run_stats(lake: StockLake, bulk_id: str) -> DataFrame:
    """A1 for one bulk run: per-state counts zero-filled across all 8
    states (+ the caller adds TTL caching via plans/gold.py — C3)."""
    from ..operators.aggregates import group_count_zerofill
    runs = lake.read_runs().filter(F.col("bulk_queue_run_id") == bulk_id)
    return group_count_zerofill(runs, "state", IngestionState.ALL,
                                count_col="count")
