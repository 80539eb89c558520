"""Bulk queue-all-stocks: A3 counter accounting + M5 batched backfill.

Reference: services/workers/tasks/queue_all_stocks_for_fetch.py — iterate
all stocks sorted by ticker (O3), skip stocks with an active run, create
QUEUED_FOR_FETCH runs linked to a BulkQueueRun, maintain
total/queued/skipped/error counters with atomic DB increments (A3) and
backfill the bulk FK with bulk_update batches of 100 (M5).

Spark restatement: the counters are counted on the driver, where the new
run rows are built, instead of mutable increments: every queued row lands
in ONE append of the runs table, so ``queued_count`` is exactly the number
of rows appended, and the bulk row lands in one append of its own. The
lookups and both commits run on the driver through Arrow, with no Spark
job. The runs commit at the version the active-run check read + 1, so a
concurrent writer's runs, committed before this queue's check or after,
make it raise instead of vanishing or being queued twice.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

import pyarrow.dataset as ds
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import key_of
from ..state_machine import IngestionState, new_run_row
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

    match = None
    if exchange_name is not None:
        # no match filters on a null id, which keeps no row
        _, ex = lake.exchanges.read_arrow()
        ids = dict(zip(map(key_of, ex["name"].to_pylist()), ex["id"].to_pylist()))
        match = ds.field("exchange_id") == ids.get(key_of(exchange_name))
    _, stocks = lake.stocks.read_arrow(match)

    # O3: deterministic iteration order
    all_stocks = sorted(zip(stocks["ticker"].to_pylist(),
                            stocks["id"].to_pylist()))
    total = len(all_stocks)

    base, runs = lake.runs.read_arrow()
    active_stock_ids = set(runs.filter(
        ~ds.field("state").isin(IngestionState.TERMINAL))["stock_id"].to_pylist())

    to_queue = [(sid, t) for t, sid in all_stocks if sid not in active_stock_ids]
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
        # M5: the whole backfill is ONE append, not N saves, at the version
        # the active-run check read
        lake.runs.write_rows(rows, base, head=runs)
    queued = len(rows)
    lake.bulk_runs.append([dict(zip(lake.bulk_runs.schema.names, (
        bulk_id, requested_by, total, queued, skipped, errors,
        started, started, _now())))])
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
