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
driver, rebuilt only when a table it reads commits (``SnapshotView``): the
runs already in list order, the stocks-exchanges-sectors join, and the
latest run per ticker. A filter, a cursor predicate or a limit over such a
view folds into its local rows, so these reads launch no Spark job, as the
reference answers a list page from an index on ``-created_at`` and a
detail from one indexed row.

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
from ..operators.filters import apply_filters
from ..operators.pagination import DEFAULT_PAGE_SIZE, page_after
from ..state_machine import is_terminal_col
from .pipeline import RUN_ORDER, StockLake

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
              cursor: Sequence[Any] | str | None = None) -> DataFrame:
    """The runs list endpoint: ANDed filters, keyset page ordered
    (-created_at, -id). Filter keys use the django-style ``field__lookup``
    syntax plus the virtual booleans (is_terminal / is_in_progress). A run
    row carries its stock's ``ticker``, so ``ticker__*`` lookups (J3
    through-FK filtering) filter the runs table itself, with no join.

    The page is taken from the lake's ``runs_by_recency`` view, whose rows
    are held on the driver already in page order: the filters, the
    cursor predicate and the limit fold into them, with no sort and no
    Spark job. ``cursor`` is a value tuple or an opaque token."""
    runs = lake.runs_by_recency.read()
    plain: dict[str, Any] = {}
    for key, value in (filters or {}).items():
        base = key.split("__", 1)[0]
        if base in _VIRTUAL:
            runs = _expand_virtual(runs, base, bool(value))
        else:
            plain[key] = value
    if plain:
        runs = apply_filters(runs, plain)
    return page_after(runs, RUN_ORDER, cursor=cursor, page_size=page_size)


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
