"""Declarative filter compilation: (field, lookup, value) -> Column.

The reference exposes its whole query surface as declarative filtersets
(django-filter, /root/reference/services/api/filters.py): every query param
becomes one lookup, all params are ANDed (filters.py:30,86,127-128). This
module is the Spark equivalent: a tiny lookup->Column compiler, so API-level
query specs translate to Catalyst predicates that push down to the scan.

Supported lookups (reference filters.py line refs in parens):
    exact      equality (:130,133)
    iexact     case-insensitive equality (:32,59,88-91)
    icontains  case-insensitive substring (:36-37,63-64,95-97)
    gte / lte / gt / lt   range & numeric predicates (:136-137,217-224)
    in / not_in           set membership / negation (:138-180)
    isnull     null-ness, value True/False (:223)
    rlike      regex gate (serializers.py:227-242)

All compiled predicates are plain Column expressions: they stay inside
whole-stage codegen and are eligible for parquet pushdown — at 100 TB the
filter happens in the scan, not after it.

``compile_arrow_filter`` compiles the same lookups to an Arrow expression,
for rows served on the driver: a ``ManagedTable.read_where`` range (a
dataset filter, which also skips row groups) and a runs list page (a
filter of the driver-held runs table). Values convert through the
column's Spark type, as ``F.lit`` converts them, and the expression keeps
Spark's null, NaN and IN semantics, so both compilers select the same rows
except where the docstring says the engines differ.
"""

from __future__ import annotations

import math
import operator
from collections.abc import Iterable, Mapping
from functools import reduce
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

_LOOKUPS = {"exact", "iexact", "icontains", "gte", "lte", "gt", "lt",
            "in", "not_in", "isnull", "rlike"}


def compile_filter(field: str, lookup: str, value: Any) -> Column:
    c = F.col(field)
    if lookup == "exact":
        return c == F.lit(value)
    if lookup == "iexact":
        return F.upper(c) == F.lit(str(value).upper())
    if lookup == "icontains":
        return F.upper(c).contains(str(value).upper())
    if lookup == "gte":
        return c >= F.lit(value)
    if lookup == "lte":
        return c <= F.lit(value)
    if lookup == "gt":
        return c > F.lit(value)
    if lookup == "lt":
        return c < F.lit(value)
    if lookup == "in":
        return c.isin(*list(value))
    if lookup == "not_in":
        return ~c.isin(*list(value))
    if lookup == "isnull":
        return c.isNull() if value else c.isNotNull()
    if lookup == "rlike":
        return c.rlike(value)
    raise ValueError(f"unknown lookup {lookup!r}; known: {sorted(_LOOKUPS)}")


def filter_triples(spec: Iterable[tuple[str, str, Any]] | Mapping[str, Any]
                   ) -> list[tuple[str, str, Any]]:
    """A filter spec as (field, lookup, value) triples. Mapping keys use
    ``field__lookup`` syntax (django-style); a bare ``field`` means
    ``exact``."""
    if not isinstance(spec, Mapping):
        return list(spec)
    triples = []
    for key, value in spec.items():
        field, sep, lookup = key.partition("__")
        triples.append((field, lookup if sep else "exact", value))
    return triples


def apply_filters(df: DataFrame,
                  spec: Iterable[tuple[str, str, Any]] | Mapping[str, Any]) -> DataFrame:
    """AND-combine a filter spec, mirroring the reference's conjunctive
    composition (``filter_triples`` reads the spec)."""
    for field, lookup, value in filter_triples(spec):
        df = df.filter(compile_filter(field, lookup, value))
    return df


def arrow_scalar(field: T.StructField, value: Any) -> pa.Scalar:
    """``value`` as an Arrow scalar of ``field``'s type, converted through
    its Spark type (``toInternal``) as ``F.lit`` converts it: a naive
    datetime is the Python process's local time, an aware one its instant.
    A value that does not convert exactly raises TypeError."""
    dt = field.dataType
    try:
        internal = dt.toInternal(value)
        scalar = pa.scalar(internal, to_arrow_type(dt))
        # pyarrow truncates a float into an integer type without a word
        exact = (not isinstance(dt, T.IntegralType)
                 or scalar.as_py() == internal)
    except (TypeError, ValueError, AttributeError):  # ArrowInvalid too
        exact = False
    if not exact:
        raise TypeError(f"value {value!r} does not fit column "
                        f"{field.name} {dt.simpleString()}")
    return scalar


_COMPARE = {"exact": operator.eq, "gte": operator.ge, "lte": operator.le,
            "gt": operator.gt, "lt": operator.lt}


def _compare(x: pc.Expression, lookup: str, b: pa.Scalar) -> pc.Expression:
    """``x <lookup> b`` over a float column in Spark's order, where NaN is
    above every number and equal to itself; a null never matches."""
    if not math.isnan(b.as_py()):
        cmp = _COMPARE[lookup](x, b)
        return cmp | x.is_nan() if lookup in ("gte", "gt") else cmp
    if lookup in ("exact", "gte"):
        return x.is_nan()
    if lookup == "lte":
        return x.is_valid()
    if lookup == "lt":
        return x.is_valid() & ~x.is_nan()
    return pc.scalar(False)  # nothing is above NaN


def compile_arrow_filter(field: T.StructField, lookup: str,
                         value: Any) -> pc.Expression:
    """``compile_filter(field.name, lookup, value)`` as an Arrow expression
    over a column of Spark type ``field.dataType``, with Spark's semantics:
    a null matches no comparison, set or pattern lookup; a float NaN
    orders above every number and equals itself; ``in`` an empty list
    matches nothing and ``not_in`` one matches every row, a null too,
    while ``not_in`` a list that holds a None matches nothing. Values
    convert as ``arrow_scalar`` converts them, so one that does not fit
    the column raises TypeError where Spark would cast it; the case and
    pattern lookups take string columns only.

    Where the engines differ: ``iexact`` and ``icontains`` uppercase both
    sides with Arrow's ``utf8_upper``, which maps each code point to one
    (ß to ẞ), while Spark's ``upper`` is Java's full mapping (ß to SS, ﬁ
    to FI), so strings that differ only in such characters can match in
    one engine and not the other; ``rlike`` is RE2 here and
    ``java.util.regex`` in Spark, so a pattern that uses backreferences or
    lookaround raises here, and the two dialects differ in some classes
    and flags."""
    x = pc.field(field.name)
    dt = field.dataType
    if lookup in ("iexact", "icontains", "rlike"):
        if not isinstance(dt, T.StringType):
            raise TypeError(f"{lookup} needs a string column; "
                            f"{field.name} is {dt.simpleString()}")
        if lookup == "rlike":
            return pc.match_substring_regex(x, str(value))
        up = pc.utf8_upper(pa.scalar(str(value))).as_py()
        if lookup == "iexact":
            return pc.utf8_upper(x) == up
        return pc.match_substring(pc.utf8_upper(x), up)
    if lookup in _COMPARE:
        b = arrow_scalar(field, value)
        if isinstance(dt, (T.FloatType, T.DoubleType)) and b.is_valid:
            return _compare(x, lookup, b)
        return _COMPARE[lookup](x, b)
    if lookup in ("in", "not_in"):
        values = list(value)
        known = [arrow_scalar(field, v).as_py() for v in values
                 if v is not None]
        member = pc.is_in(x, value_set=pa.array(known, to_arrow_type(dt)),
                          skip_nulls=True)
        if lookup == "in":
            return member
        if not values or None in values:
            return pc.scalar(not values)
        return x.is_valid() & ~member
    if lookup == "isnull":
        return x.is_null() if value else x.is_valid()
    raise ValueError(f"unknown lookup {lookup!r} on {field.name}; "
                     f"known: {sorted(_LOOKUPS)}")


def arrow_filter(schema: T.StructType,
                 triples: Iterable[tuple[str, str, Any]]) -> pc.Expression | None:
    """AND of ``compile_arrow_filter`` over ``triples`` on ``schema``'s
    columns; None for no triple."""
    preds = [compile_arrow_filter(schema[f], lookup, v)
             for f, lookup, v in triples]
    return reduce(operator.and_, preds) if preds else None
