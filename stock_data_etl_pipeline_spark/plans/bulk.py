"""Bulk queue-all-stocks: A3 counter accounting + M5 batched backfill.

Reference: services/workers/tasks/queue_all_stocks_for_fetch.py — iterate
all stocks sorted by ticker (O3), skip stocks with an active run, create
QUEUED_FOR_FETCH runs linked to a BulkQueueRun, maintain
total/queued/skipped/error counters with atomic DB increments (A3) and
backfill the bulk FK with bulk_update batches of 100 (M5).

Spark restatement: counters are *derived by aggregation* over the runs
relation instead of mutable increments (idiomatic recompute — the counts
can always be reproduced from the data), and the whole batch lands in ONE
merge instead of row-wise saves — batching is a non-issue when writes are
set-oriented.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import key_of
from ..operators.merge import merge_upsert
from ..schemas import BULK_QUEUE_RUNS, EXCHANGES
from ..state_machine import IngestionState, is_terminal_col, new_run_row, runs_dataframe
from .pipeline import StockLake


def _now() -> datetime:
    return datetime.now(tz=timezone.utc).replace(tzinfo=None)


def queue_all_stocks(lake: StockLake, requested_by: str | None = None,
                     exchange_name: str | None = None) -> dict:
    """Queue every stock (optionally one exchange's) for fetch under a new
    BulkQueueRun. Returns the counter dict; the runs + bulk tables are
    updated in one merge each.
    """
    started = _now()
    bulk_id = str(uuid.uuid4())

    stocks = lake.read_stocks()
    if exchange_name is not None:
        # one collect of the cached snapshot; no match filters on a null id,
        # which keeps no row
        ids = {key_of(r["name"]): r["id"] for r in
               lake._read_or_empty(lake.exchanges, EXCHANGES).collect()}
        stocks = stocks.filter(
            F.col("exchange_id") == F.lit(ids.get(key_of(exchange_name))))

    # O3: deterministic iteration order
    all_stocks = [(r["id"], r["ticker"]) for r in
                  stocks.select("id", "ticker").orderBy("ticker").collect()]
    total = len(all_stocks)

    runs = lake.read_runs()
    active_stock_ids = {
        r["stock_id"] for r in
        runs.filter(~is_terminal_col(F.col("state")))
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
    queued = 0
    if rows:
        from pyspark.sql import Observation

        # M5: the whole backfill is ONE set-oriented merge, not N saves.
        # A3: the queued counter is OBSERVED on the write itself
        # (df.observe rides the overwrite action) — derived by
        # aggregation, but with no second scan of the runs relation
        obs = Observation(f"bulk_{bulk_id[:8]}")
        runs = (merge_upsert(runs, runs_dataframe(lake.spark, rows), ["id"])
                .observe(obs, F.sum(
                    F.when(F.col("bulk_queue_run_id") == bulk_id, 1)
                    .otherwise(0)).alias("queued")))
        lake.runs.overwrite(runs)
        queued = int(obs.get["queued"] or 0)
    completed = _now()
    bulk_df = lake.spark.createDataFrame(
        [(bulk_id, requested_by, total, queued, skipped, errors,
          started, started, completed)], BULK_QUEUE_RUNS)
    current = lake._read_or_empty(lake.bulk_runs, BULK_QUEUE_RUNS)
    lake.bulk_runs.overwrite(merge_upsert(current, bulk_df, ["id"]))
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
