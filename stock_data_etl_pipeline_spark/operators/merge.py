"""MERGE (upsert) semantics as a pure DataFrame transform.

Parity target: the reference's Delta MERGE into the unified stocks table —
``when_matched_update_all().when_not_matched_insert_all()`` on the null-safe
composite key (ticker, record_type, period_end_date)
(/root/reference/services/workers/tasks/queue_for_delta.py:736-767), plus the
changed-fields-only guarded update of M4 (update_stock_metadata.py:292-469).

Delta would run this as one DeltaTable.merge call; here the result
relation is computed with a union + per-key window (source wins):

    merged = row_number() over (partition by keys order by is_source desc)
             == 1   over   (target UNION ALL dedup(source))

One shuffle on the merge key (same cost class as the anti-join variant),
no self-join lineage issues, and window partitioning groups NULL keys
together — giving the reference's null-safe key equality (J4) by
construction.

Semantics notes:
- update_all: a matched key takes ALL its column values from source.
- insert_all: unmatched source keys are appended.
- schema evolution (Delta autoMerge): columns present in only one side are
  null-filled on the other, so later batches can add metric columns —
  replacing the reference's manual Null->Utf8 type dance
  (queue_for_delta.py:628-635). A column that is string on one side and
  typed on the other merges as string, the reference's "string chosen so
  later batches with string values merge cleanly" (SURVEY §1.3).
- idempotency: merging the same batch twice is a no-op by construction
  (the reference's core invariant, queue_for_delta.py:693-699).

Scale notes: the anti join shuffles on the merge key — exactly what Delta's
MERGE does under the hood (inner-join to find touched files, then rewrite).
At 100 TB you additionally partition the target (e.g. by record_type) and
cluster by ticker so the anti join prunes to touched partitions; the
managed_table layer does the partition-pruned variant of this rewrite.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .windows import latest_per_group


def align_schemas(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Null-fill each side's missing columns so both share one schema
    (Delta autoMerge behavior). Column order: a's columns, then b's new ones.

    A column that is string on one side and another type on the other is
    cast to string on both: the transform types a metric column per batch
    (double, or string when any value is not numeric), and under ANSI
    ``unionByName`` would widen string + double to double and fail on the
    first non-numeric value. Other type differences are left to the
    union's widening."""
    a_fields = {f.name: f for f in a.schema.fields}
    b_fields = {f.name: f for f in b.schema.fields}
    out_cols = list(a_fields) + [n for n in b_fields if n not in a_fields]
    to_string = {n for n in a_fields.keys() & b_fields.keys()
                 if a_fields[n].dataType != b_fields[n].dataType
                 and any(isinstance(f[n].dataType, T.StringType)
                         for f in (a_fields, b_fields))}

    def project(df: DataFrame, own: dict, other: dict) -> DataFrame:
        cols = []
        for n in out_cols:
            if n in to_string:
                cols.append(F.col(n).cast("string").alias(n))
            elif n in own:
                cols.append(F.col(n))
            else:
                cols.append(F.lit(None).cast(other[n].dataType).alias(n))
        return df.select(*cols)

    return project(a, a_fields, b_fields), project(b, b_fields, a_fields)


def merge_upsert(target: DataFrame, source: DataFrame, keys: Sequence[str],
                 dedup_source_order: Sequence[Column] | None = None) -> DataFrame:
    """update_all / insert_all MERGE result. Keys compare null-safely.

    ``dedup_source_order``: if the source can hold several rows per key,
    ordering columns picking the winner (first row under this order);
    default keeps an arbitrary single row.
    """
    target, source = align_schemas(target, source)
    if dedup_source_order is None:
        source = source.dropDuplicates(list(keys))
    else:
        source = latest_per_group(source, list(keys), dedup_source_order)
    marker = "_is_source"
    tagged = (target.withColumn(marker, F.lit(0))
              .unionByName(source.withColumn(marker, F.lit(1))))
    return latest_per_group(tagged, list(keys),
                            [F.col(marker).desc()]).drop(marker)


def merge_insert_only(target: DataFrame, source: DataFrame,
                      keys: Sequence[str]) -> DataFrame:
    """WHEN NOT MATCHED INSERT (no update of matched keys) — the reference's
    atomic get_or_create for dimension rows (M1, stock_ingestion_service
    .py:142-160): existing keys keep their target row, new keys append."""
    target, source = align_schemas(target, source)
    source = source.dropDuplicates(list(keys))
    marker = "_is_source"
    tagged = (target.withColumn(marker, F.lit(0))
              .unionByName(source.withColumn(marker, F.lit(1))))
    # ascending marker: the TARGET row wins when both sides have the key
    return latest_per_group(tagged, list(keys),
                            [F.col(marker).asc()]).drop(marker)


def merge_if_changed(target: DataFrame, source: DataFrame, keys: Sequence[str],
                     compare_cols: Sequence[str]) -> DataFrame:
    """M4 semantics: update a matched key only when at least one of
    ``compare_cols`` actually differs (null-safely). Unmatched source keys
    insert. The relation equals merge_upsert's; the point of the guard is
    write amplification — the managed-table layer uses the changed-row set
    to skip rewriting untouched files, like the reference skips Stock.save()
    to avoid spurious cache invalidation."""
    target, source = align_schemas(target, source)
    source = source.dropDuplicates(list(keys))
    t, s = target.alias("t"), source.alias("s")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
    # source rows that are matched-and-different, or brand new
    matched_diff = (s.join(t, cond, "inner").filter(changed)
                    .select([F.col(f"s.{c}") for c in source.columns]))
    new_rows = s.join(t, cond, "left_anti")
    return merge_upsert(target, matched_diff.unionByName(new_rows), keys)


def scd2_merge(dim: DataFrame, updates: DataFrame, keys: Sequence[str],
               attrs: Sequence[str], change_ts,
               from_col: str = "effective_from",
               to_col: str = "effective_to",
               current_col: str = "is_current") -> DataFrame:
    """Slowly-changing-dimension Type 2 merge: for each key whose current
    row differs (null-safely) from its update image on any of ``attrs``,
    CLOSE OUT the current row (``effective_to = change_ts``, not current)
    and APPEND the new version (effective from ``change_ts``, open-ended,
    current). Unchanged updates are no-ops; unknown keys insert as new
    current rows. History rows pass through untouched.

    Pure relational: one equi-join of current rows against the (deduped)
    update batch + unions — the dimension's history never rewrites, so
    at scale this is change-batch-sized work against the current slice
    (keep ``is_current`` as a partition column to prune the join)."""
    ts = F.lit(change_ts)
    upd = updates.dropDuplicates(list(keys))
    cur = dim.filter(F.col(current_col))
    hist = dim.filter(~F.col(current_col))
    # match detection via marker columns, NOT key null-ness — the join is
    # null-safe, so an all-NULL key is a legitimate matched key
    c = cur.withColumn("_in_dim", F.lit(1)).alias("c")
    u = upd.withColumn("_in_upd", F.lit(1)).alias("u")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"c.{k}").eqNullSafe(F.col(f"u.{k}"))
    differs = F.lit(False)
    for a in attrs:
        differs = differs | ~F.col(f"c.{a}").eqNullSafe(F.col(f"u.{a}"))
    j = c.join(u, cond, "left").withColumn(
        "_changed", F.when(F.col("u._in_upd").isNotNull() & differs,
                           True).otherwise(False))
    kept = (j.filter(~F.col("_changed"))
            .select([F.col(f"c.{x}") for x in dim.columns]))
    closed = (j.filter(F.col("_changed"))
              .select(*[F.col(f"c.{x}") for x in keys],
                      *[F.col(f"c.{a}") for a in attrs],
                      F.col(f"c.{from_col}").alias(from_col))
              .withColumn(to_col, ts)
              .withColumn(current_col, F.lit(False)))
    new_versions = (u.join(c, cond, "left")
                    .filter(F.col("c._in_dim").isNull() | differs)
                    .select(*[F.col(f"u.{x}") for x in keys],
                            *[F.col(f"u.{a}") for a in attrs])
                    .withColumn(from_col, ts)
                    .withColumn(to_col, F.lit(None).cast(
                        dim.schema[to_col].dataType))
                    .withColumn(current_col, F.lit(True)))
    cols = dim.columns
    return (hist.select(cols)
            .unionByName(kept.select(cols))
            .unionByName(closed.select(cols))
            .unionByName(new_versions.select(cols)))
