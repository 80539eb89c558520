"""Gold cached views with dependency-driven invalidation (C1-C3).

Reference caching architecture (/root/reference/):
- C1 indefinite page cache on list views (list_views.py:38,77,116)
- C2 signal-driven invalidation: a write to Exchange/Sector/Stock deletes
  the dependent views' cache entries by pattern (signals.py:48-167):
      exchange -> {exchange_views, ticker_views}
      sector   -> {sector_views, ticker_views}
      stock    -> {ticker_views}
- C3 TTL cache for the expensive stats aggregation (300 s,
  views/bulk_queue_runs.py:32-158)

Spark restatement: a view registry holding builder + dependency set.
`get` returns the built view's rows held on the driver
(`managed_table.driver_local`): C1's indefinite Redis entry becomes a
local relation, which a filter, projection or collect reads with no Spark
job, so a gold view must be small enough to hold in driver memory.
`notify_write(table)` drops exactly the dependent views (C2's signal
table, same shape); TTL views additionally expire by wall clock (C3). A
view too large for the driver belongs in a gold table written by the
builder, not in this registry.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..sources.managed_table import driver_local

Builder = Callable[[], DataFrame]

# the reference's signal->views map (signals.py:48-167)
DEFAULT_DEPENDENCIES: dict[str, set[str]] = {
    "exchanges": {"exchange_views", "ticker_views"},
    "sectors": {"sector_views", "ticker_views"},
    "stocks": {"ticker_views"},
}


@dataclass
class _Entry:
    builder: Builder
    tags: set[str]
    ttl_seconds: float | None
    df: DataFrame | None = None
    built_at: float = 0.0
    builds: int = field(default=0)


class GoldViews:
    def __init__(self, dependencies: dict[str, set[str]] | None = None) -> None:
        self._views: dict[str, _Entry] = {}
        self._deps = dependencies if dependencies is not None \
            else dict(DEFAULT_DEPENDENCIES)

    def register(self, name: str, builder: Builder, tags: set[str],
                 ttl_seconds: float | None = None) -> None:
        """``tags`` identify which invalidation groups this view belongs
        to (e.g. {'ticker_views'}); ``ttl_seconds`` adds C3 expiry."""
        self._views[name] = _Entry(builder, set(tags), ttl_seconds)

    def get(self, name: str) -> DataFrame:
        e = self._views[name]
        expired = (e.ttl_seconds is not None
                   and time.monotonic() - e.built_at > e.ttl_seconds)
        if e.df is None or expired:
            e.df = driver_local(e.builder())
            e.built_at = time.monotonic()
            e.builds += 1
        return e.df

    def build_count(self, name: str) -> int:
        return self._views[name].builds

    def notify_write(self, table: str) -> list[str]:
        """C2: a write to ``table`` invalidates every view tagged with one
        of the table's dependent groups. Returns the invalidated names."""
        groups = self._deps.get(table, set())
        hit = []
        for name, e in self._views.items():
            if e.df is not None and (e.tags & groups):
                e.df = None
                hit.append(name)
        return hit
