"""Control-plane query service — the reference's REST list/detail/stats
endpoints as composable DataFrame pipelines (SURVEY §3.2/§3.3).

Reference shape (/root/reference/services/api/):
    GET /api/runs?state=FAILED&created_after=...&ticker__icontains=...
      -> select_related(stock) + declarative filterset + cursor page
         (list_views.py:144-157, filters.py:101-180, paginator.py:24-29)
    GET /api/stocks/<ticker> -> dims joined in (serializers.py:85-101)
    GET /api/bulk-queue-runs/<id>/stats -> DB-side group-by-state,
         zero-filled, 300 s TTL cache (views/bulk_queue_runs.py:63-158)

Every read here is served from a small view the lake holds on the
driver, rebuilt only when a table it reads commits (``SnapshotView``).
The runs list pages an Arrow table of every run already in list order:
its filters and keyset cursor compile to one Arrow expression
(``operators.filters.compile_arrow_filter``,
``operators.pagination.arrow_after_cursor``), and the page is the first
rows that match it, handed to Spark as a local relation of at most 100
rows, so a page builds no Catalyst plan over the runs and launches no
Spark job, as the reference answers a list page from an index on
``-created_at``. Stock detail and the latest run filter local relations
(the stocks-exchanges-sectors join, the latest run per ticker); the
optimizer folds the filter into their rows, so they launch no job either,
as the reference answers a detail from one indexed row.

The silver range read, ``lake.silver.read_where(col, lo, hi)``, has no
view: it reads the range of the latest commit on every call, on the
driver through Arrow with row-group skipping, and returns it as a local
relation (``sources.managed_table``). A further filter or projection
folds into it the same way, so no API read launches a Spark job.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import key_of
from ..operators.filters import arrow_filter, filter_triples
from ..operators.pagination import (
    DEFAULT_PAGE_SIZE,
    arrow_after_cursor,
    get_page_size,
)
from .pipeline import RUN_ORDER, RUNS_VIEW, StockLake

# the runs list's virtual booleans (filters.py:138-180): whether a true
# value selects the view's is_terminal_flag rows
_VIRTUAL = {"is_terminal": True, "is_in_progress": False}


def _runs_triples(filters: Mapping[str, Any]) -> list[tuple[str, str, Any]]:
    """``filters`` as lookups on RUNS_VIEW columns, a virtual boolean as an
    exact lookup on is_terminal_flag. A field that is neither a RUNS_VIEW
    column nor a virtual boolean raises ValueError naming it."""
    triples = []
    for field, lookup, value in filter_triples(filters):
        if field in _VIRTUAL:
            field, lookup, value = ("is_terminal_flag", "exact",
                                    bool(value) == _VIRTUAL[field])
        elif field not in RUNS_VIEW.names:
            raise ValueError(f"unknown runs filter field {field!r}: not a "
                             "run column or a virtual boolean")
        triples.append((field, lookup, value))
    return triples


def list_runs(lake: StockLake,
              filters: Mapping[str, Any] | None = None,
              page_size: int = DEFAULT_PAGE_SIZE,
              cursor: Sequence[Any] | str | None = None) -> DataFrame:
    """The runs list endpoint: ANDed filters, keyset page ordered
    (-created_at, -id). Filter keys use the django-style ``field__lookup``
    syntax over the run columns, plus the virtual booleans is_terminal and
    is_in_progress. A run row carries its stock's ``ticker``, so
    ``ticker__*`` lookups (J3 through-FK filtering) filter the runs table
    itself, with no join. ``cursor`` is a value tuple or an opaque token.

    The filters and the cursor are checked and compiled before anything
    is read: an unknown field (such as the bulk-run filters is_completed
    and has_errors) or lookup raises ValueError, a value that does not
    fit its column TypeError, and a malformed cursor InvalidCursorError.
    The page is then the first rows of the lake's ``runs_by_recency``
    Arrow table that match, with no sort, no Catalyst plan over the runs
    and no Spark job, returned as a local relation of RUNS_VIEW rows."""
    where = arrow_filter(RUNS_VIEW, _runs_triples(filters or {}))
    if cursor is not None:
        after = arrow_after_cursor(RUNS_VIEW, RUN_ORDER, cursor)
        where = after if where is None else where & after
    runs = lake.runs_by_recency.read()
    if where is not None:
        runs = runs.filter(where)
    return lake.spark.createDataFrame(
        runs.slice(0, get_page_size(page_size)), RUNS_VIEW)


def stock_detail(lake: StockLake, ticker: str) -> DataFrame:
    """Stock row with exchange/sector names joined in (J2): a filter of
    the lake's driver-held detail view, no Spark job."""
    return lake.stock_details.read().filter(F.col("ticker") == key_of(ticker))


def latest_run_for_stock(lake: StockLake, ticker: str,
                         only_done: bool = False) -> DataFrame:
    """W1/W2: the newest (optionally DONE) run for a ticker, ties broken
    by the larger id: a filter of the lake's driver-held latest-run view,
    no Spark job."""
    view = lake.latest_done_runs if only_done else lake.latest_runs
    return view.read().filter(F.col("ticker") == key_of(ticker))
