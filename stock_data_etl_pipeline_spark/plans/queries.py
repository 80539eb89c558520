"""Control-plane query service — the reference's REST list/detail/stats
endpoints as composable DataFrame pipelines (SURVEY §3.2/§3.3).

Reference shape (/root/reference/services/api/):
    GET /api/runs?state=FAILED&created_after=...&ticker__icontains=...
      -> select_related(stock) + declarative filterset + cursor page
         (list_views.py:144-157, filters.py:101-180, paginator.py:24-29)
    GET /api/stocks/<ticker> -> dims joined in (serializers.py:85-101)
    GET /api/bulk-queue-runs/<id>/stats -> DB-side group-by-state,
         zero-filled, 300 s TTL cache (views/bulk_queue_runs.py:63-158)

Each request compiles to one Catalyst plan over the cached control-table
snapshots: push the predicates, keyset-limit the page. Stock detail
filters a stocks-exchanges-sectors join that the lake builds and caches
once per snapshot of the three tables, not per request.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import key_of
from ..operators.filters import apply_filters
from ..operators.pagination import DEFAULT_PAGE_SIZE, keyset_page
from ..state_machine import IngestionState, is_terminal_col
from .pipeline import StockLake

# virtual boolean filters (filters.py:138-180,223-245) expand to predicates
_VIRTUAL = {"is_terminal", "is_in_progress", "is_completed", "has_errors"}


def _expand_virtual(df: DataFrame, name: str, value: bool) -> DataFrame:
    term = is_terminal_col(F.col("state"))
    if name == "is_terminal":
        return df.filter(term if value else ~term)
    if name == "is_in_progress":
        return df.filter(~term if value else term)
    if name == "is_completed":
        c = F.col("completed_at").isNotNull()
        return df.filter(c if value else ~c)
    if name == "has_errors":
        c = F.col("error_count") > 0
        return df.filter(c if value else F.col("error_count") == 0)
    raise ValueError(name)


def list_runs(lake: StockLake,
              filters: Mapping[str, Any] | None = None,
              page_size: int = DEFAULT_PAGE_SIZE,
              cursor: Sequence[Any] | None = None) -> DataFrame:
    """The runs list endpoint: ANDed filters, keyset page ordered
    (-created_at, -id). Filter keys use the django-style ``field__lookup``
    syntax plus the virtual booleans (is_terminal / is_in_progress). A run
    row carries its stock's ``ticker``, so ``ticker__*`` lookups (J3
    through-FK filtering) filter the runs table itself, with no join."""
    runs = lake.read_runs().withColumn(
        "is_terminal_flag", is_terminal_col(F.col("state")))
    plain: dict[str, Any] = {}
    for key, value in (filters or {}).items():
        base = key.split("__", 1)[0]
        if base in _VIRTUAL:
            runs = _expand_virtual(runs, base, bool(value))
        else:
            plain[key] = value
    if plain:
        runs = apply_filters(runs, plain)
    return keyset_page(runs, [("created_at", True), ("id", True)],
                       cursor=cursor, page_size=page_size)


def stock_detail(lake: StockLake, ticker: str) -> DataFrame:
    """Stock row with exchange/sector names joined in (J2): a filter of
    the lake's cached per-snapshot join, one job."""
    return lake.read_stock_details().filter(F.col("ticker") == key_of(ticker))


def latest_run_for_stock(lake: StockLake, ticker: str,
                         only_done: bool = False) -> DataFrame:
    """W1/W2: the newest (optionally DONE) run for a ticker, ties broken
    by the larger id. With the rows filtered to one ticker this is a
    single-key top-1: Spark plans it as one TakeOrderedAndProject, with no
    shuffle (a per-group window would partition by ticker first)."""
    t = key_of(ticker)
    runs = lake.read_runs().filter(F.col("ticker") == t)
    if only_done:
        runs = runs.filter(F.col("state") == IngestionState.DONE)
    return runs.orderBy(F.col("created_at").desc(), F.col("id").desc()).limit(1)
