"""Keyset (cursor) pagination.

Parity target: DRF CursorPagination ordered -created_at, page_size 50,
max 100 (reference /root/reference/services/api/views/paginator.py:24-29).
The reference explicitly chose keyset over OFFSET so page N doesn't scan
N*page_size rows — the same argument holds 1000x harder on Spark: an
OFFSET would force a global sort + skip, while a keyset cursor is a
range predicate + a small top-K sort. The predicate compares structs,
which parquet cannot take as a pushed filter: it runs on the scanned rows,
and the top-K still needs no shuffle of the whole relation.

``keyset_page`` sorts (the optimizer pushes the cursor filter below the
sort and plans the sort plus limit as one top-K), filters the rows
strictly after the cursor and limits. A caller that holds its rows on the
driver as an Arrow table already in the page's order, such as the runs
list's view, takes the same page with no Spark plan: ``arrow_after_cursor``
is the cursor predicate as an Arrow expression, ANDed with its filters,
and ``get_page_size`` the slice it takes of the filtered rows.

Cursor = the (order columns..., tiebreaker) tuple of the last row of the
previous page. The predicate is the row-wise "strictly after cursor"
lexicographic comparison, in ``orderBy``'s null order, so a walk over a
nullable order column reaches every row.

DRF parity extras (paginator.py:24-29 + CursorPagination semantics):
- opaque client-safe tokens: ``encode_cursor``/``decode_cursor`` wrap the
  value tuple in type-tagged JSON + urlsafe base64, so clients carry a
  string, never raw values; a tampered/garbled token, or a cursor whose
  values do not match the order's columns in number or type, raises
  InvalidCursorError (the reference's 404-invalid-cursor path) before any
  plan is built.
- a page size that is not a positive integer reads as DEFAULT_PAGE_SIZE,
  and one above MAX_PAGE_SIZE as MAX_PAGE_SIZE (DRF's ``get_page_size``).
- ``reverse=True`` pages strictly BEFORE the cursor (DRF's ``?cursor=r...``
  backward paging); rows still come back in the base ordering.
"""

from __future__ import annotations

import base64
import datetime
import json
from collections.abc import Sequence
from typing import Any

import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .filters import arrow_scalar

DEFAULT_PAGE_SIZE = 50
MAX_PAGE_SIZE = 100


class InvalidCursorError(ValueError):
    """Unparseable/tampered cursor token (reference: DRF raises NotFound)."""


def _enc_val(v: Any) -> list:
    if v is None:
        return ["z", None]
    if isinstance(v, bool):
        return ["b", v]
    if isinstance(v, int):
        return ["i", v]
    if isinstance(v, float):
        return ["f", v]
    if isinstance(v, datetime.datetime):
        return ["t", v.isoformat()]
    if isinstance(v, datetime.date):
        return ["d", v.isoformat()]
    return ["s", str(v)]


_DEC = {
    "z": lambda v: None,
    "b": bool,
    "i": int,
    "f": float,
    "t": datetime.datetime.fromisoformat,
    "d": datetime.date.fromisoformat,
    "s": str,
}


def encode_cursor(values: Sequence[Any]) -> str:
    """Opaque, urlsafe cursor token for a (order columns..., tiebreaker)
    value tuple. Type-tagged so timestamps/dates round-trip exactly."""
    raw = json.dumps([_enc_val(v) for v in values], separators=(",", ":"))
    return base64.urlsafe_b64encode(raw.encode()).decode().rstrip("=")


def decode_cursor(token: str) -> list[Any]:
    try:
        pad = "=" * (-len(token) % 4)
        raw = base64.urlsafe_b64decode((token + pad).encode())
        vals = json.loads(raw)
        return [_DEC[tag](v) for tag, v in vals]
    except Exception as exc:  # noqa: BLE001 — any malformation is one error
        raise InvalidCursorError(f"invalid cursor token: {token!r}") from exc


def _fits(dt: T.DataType, v: Any) -> bool:
    """Whether the non-null cursor value ``v`` can stand for a value of
    Spark type ``dt``: checked on the driver, so a wrong type is a bad
    cursor, not a cast error when the page runs. The types the repo's
    orders page on are checked; any other type is left to the cast."""
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return isinstance(v, datetime.datetime)
    if isinstance(dt, T.DateType):
        return (isinstance(v, datetime.date)
                and not isinstance(v, datetime.datetime))
    if isinstance(dt, T.IntegralType):
        return isinstance(v, int) and not isinstance(v, bool)
    if isinstance(dt, T.StringType):
        return isinstance(v, str)
    return True


def _cursor_values(schema: T.StructType, order: Sequence[tuple[str, bool]],
                   cursor: Sequence[Any] | str) -> list[Any]:
    """``cursor`` as one value per ``order`` column, each null or of a
    Python type that its column's Spark type takes; a token is decoded
    first. Anything else raises InvalidCursorError."""
    values = decode_cursor(cursor) if isinstance(cursor, str) else list(cursor)
    if len(values) != len(order):
        raise InvalidCursorError(
            f"cursor holds {len(values)} values; the order has {len(order)}")
    for (col, _), v in zip(order, values):
        dt = schema[col].dataType
        if v is not None and not _fits(dt, v):
            raise InvalidCursorError(
                f"cursor value {v!r} does not fit {col} {dt.simpleString()}")
    return values


def get_page_size(page_size: Any) -> int:
    """DRF's ``get_page_size``: a positive integer capped at MAX_PAGE_SIZE;
    anything else reads as DEFAULT_PAGE_SIZE."""
    try:
        n = int(page_size)
    except (TypeError, ValueError):
        return DEFAULT_PAGE_SIZE
    return min(n, MAX_PAGE_SIZE) if n > 0 else DEFAULT_PAGE_SIZE


def _after_cursor(schema: T.StructType, order: Sequence[tuple[str, bool]],
                  cursor: Sequence[Any]) -> Column:
    """Lexicographic 'row comes strictly after cursor' predicate.
    ``order`` is [(column, descending)].

    Each position compares one-field structs, the column's against the
    cursor value's cast to the column's type. Struct order puts a null
    first and two nulls equal, so the predicate agrees with ``orderBy``
    (NULLS FIRST ascending, NULLS LAST descending) where a plain ``<``
    would drop every null row. And a struct literal is bound into
    generated code by reference, not inlined like a timestamp or number,
    so pages of one shape compile their classes once, whatever the
    cursor's values."""
    pred = F.lit(False)
    for i in range(len(order) - 1, -1, -1):
        col, desc = order[i]
        c = F.struct(F.col(col).alias("v"))
        v = F.struct(F.lit(cursor[i]).cast(schema[col].dataType).alias("v"))
        strict = (c < v) if desc else (c > v)
        pred = strict | ((c == v) & pred)
    return pred


def sort_columns(order: Sequence[tuple[str, bool]]) -> list[Column]:
    """``order``'s sort keys, in ``orderBy``'s default null order."""
    return [F.col(c).desc() if d else F.col(c).asc() for c, d in order]


def arrow_after_cursor(schema: T.StructType,
                       order: Sequence[tuple[str, bool]],
                       cursor: Sequence[Any] | str) -> pc.Expression:
    """``_after_cursor`` as an Arrow expression over columns of
    ``schema``, for a page of driver-held rows. ``cursor`` is checked as
    ``keyset_page`` checks it, and its values convert as ``F.lit``
    converts them (``filters.arrow_scalar``). A null compares as a struct
    field does: below every value and equal to a null, so the predicate
    agrees with ``orderBy``'s null order. A null comparison result stands
    for false, which Kleene AND and OR keep. A float NaN orders as an
    Arrow comparison orders it, not above every number as in Spark: the
    repo pages on timestamps and strings only."""
    values = _cursor_values(schema, order, cursor)
    pred = pc.scalar(False)
    for (col, desc), value in reversed(list(zip(order, values))):
        x = pc.field(col)
        v = arrow_scalar(schema[col], value)
        if not v.is_valid:
            strict, equal = (pc.scalar(False) if desc else x.is_valid(),
                             x.is_null())
        else:
            strict, equal = ((x.is_null() | (x < v)) if desc else x > v,
                             x == v)
        pred = strict | (equal & pred)
    return pred


def keyset_page(df: DataFrame, order: Sequence[tuple[str, bool]],
                cursor: Sequence[Any] | str | None = None,
                page_size: int = DEFAULT_PAGE_SIZE,
                reverse: bool = False) -> DataFrame:
    """One page: rows strictly after ``cursor`` in ``order``, limited.

    ``order``: [(column_name, descending)] — include a unique tiebreaker
    (e.g. the pk) as the last component, like the reference's implicit
    (created_at, id) ordering.

    ``cursor`` may be the raw value tuple or an opaque ``encode_cursor``
    token, checked on the driver before the filter is built.
    ``reverse=True`` returns the page_size rows strictly BEFORE the cursor
    (backward paging), still emitted in the base ordering — the sort, the
    cursor filter and the limit run in the flipped ordering, then only the
    k returned rows re-sort.
    """
    eff = [(c, not d) for c, d in order] if reverse else list(order)
    page = df.orderBy(*sort_columns(eff))
    if cursor is not None:
        page = page.filter(_after_cursor(
            df.schema, eff, _cursor_values(df.schema, eff, cursor)))
    page = page.limit(get_page_size(page_size))
    if reverse:
        page = page.orderBy(*sort_columns(order))
    return page


def page_cursor(last_row, order: Sequence[tuple[str, bool]]) -> str:
    """Opaque token for the NEXT page, from the last collected row of the
    current page (pass the first row + reverse=True to page backward)."""
    return encode_cursor([last_row[c] for c, _ in order])
