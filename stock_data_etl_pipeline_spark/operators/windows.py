"""Per-group ranking operators (the reference's latest-run-per-stock family).

Parity targets (reference, /root/reference/):
- W1 latest run per stock: services/api/models.py:247-279
- W2 latest DONE run per stock: models.py:291-298
- top-K per group generalizes the keyset page-1 pattern.

Scale notes: row_number over partitionBy(keys) is a single hash shuffle on
the group keys followed by an in-partition sort — the same cost profile as
the groupBy it replaces. For heavily skewed group keys AQE skew-join/
partition splitting applies; for the common "latest per key" case over an
append-ordered fact, a partition-pruned scan (date-partitioned table) keeps
the shuffle input small.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .pinned import pin_checkpoint


def _cols(names: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in names]


def latest_per_group(df: DataFrame, keys: Sequence[str],
                     order: Sequence[str | Column],
                     rn_col: str = "_rn") -> DataFrame:
    """Keep the first row per group under ``order`` (pass desc() columns for
    'latest'). Always include a unique tie-breaker column in ``order`` for
    determinism — the reference relies on Postgres' stable pk ordering."""
    w = Window.partitionBy(*keys).orderBy(*_cols(order))
    return (df.withColumn(rn_col, F.row_number().over(w))
              .filter(F.col(rn_col) == 1).drop(rn_col))


def top_k_per_group(df: DataFrame, keys: Sequence[str],
                    order: Sequence[str | Column], k: int,
                    rank_col: str = "rank") -> DataFrame:
    """Top-K rows per group with the rank kept as ``rank_col``."""
    w = Window.partitionBy(*keys).orderBy(*_cols(order))
    return (df.withColumn(rank_col, F.row_number().over(w))
              .filter(F.col(rank_col) <= k))


def distributed_ntile(df: DataFrame, n: int, order: Sequence[str | Column],
                      out: str = "ntile") -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY order)`` without the
    single-partition sort Spark plans for an empty-partitionBy window.

    An unpartitioned window pulls EVERY row through one task — the
    whole table sorted on one executor, the round-4 scale finding in
    RFM segmentation and classifier calibration. This computes the
    identical bucket assignment distributively:

    1. ``repartitionByRange`` on the order keys — a parallel range
       shuffle (sampled boundaries), each partition a contiguous slice
       of the total order; the slice is ``pin_checkpoint``-ed (eager
       localCheckpoint) so the count pass, the rank pass, and any
       later re-execution all see the SAME frozen boundaries — a
       recompute with freshly sampled boundaries would silently shift
       partition ids out from under the collected offsets.
    2. ``row_number`` partitioned by ``spark_partition_id()`` — sorts
       are partition-local.
    3. Global rank = local rank + preceding partitions' row counts (a
       numPartitions-sized control-plane collect, like the id-maps
       elsewhere in this package).
    4. ntile's exact bucket arithmetic from (rank, N): with
       ``q, r = divmod(N, n)`` the first ``r`` buckets hold ``q+1``
       rows, the rest ``q``.

    ``order`` must be a TOTAL order (include a unique tie-break column)
    — the same requirement Spark's own ntile has for determinism. The
    result column is INT to match ``F.ntile``.
    """
    cols = _cols(order)
    ranged = pin_checkpoint(df.repartitionByRange(*cols).withColumn(
        "_dnt_pid", F.spark_partition_id()))
    counts = {row["_dnt_pid"]: row["cnt"] for row in
              ranged.groupBy("_dnt_pid").agg(
                  F.count(F.lit(1)).alias("cnt")).collect()}
    total, offsets = 0, {}
    for pid in sorted(counts):
        offsets[pid] = total
        total += counts[pid]
    if total == 0:
        return df.withColumn(out, F.lit(None).cast("int"))
    off_expr = F.coalesce(
        F.create_map(*[F.lit(v) for pid, off in offsets.items()
                       for v in (pid, off)])[F.col("_dnt_pid")],
        F.lit(0))
    w = Window.partitionBy("_dnt_pid").orderBy(*cols)
    rank = F.row_number().over(w) + off_expr
    q, r = divmod(total, n)
    # rank <= r*(q+1): inside the first r (fat) buckets of q+1 rows
    bucket = F.when(
        rank <= F.lit(r * (q + 1)),
        F.floor((rank - 1) / F.lit(q + 1)) + 1,
    ).otherwise(  # q==0 => r==total, the when-branch always wins
        F.lit(r) + F.floor((rank - 1 - F.lit(r * (q + 1)))
                           / F.lit(max(q, 1))) + 1)
    return (ranged.withColumn(out, bucket.cast("int"))
            .drop("_dnt_pid"))


def banded_rank_join(df: DataFrame, keys: Sequence[str], rn: str,
                     width: int) -> DataFrame:
    """Bounded-history self-join: every (cur, prev) pair with
    ``cur.rn - width < prev.rn <= cur.rn``, equi-keyed so each probe
    touches O(width) rows — never the whole key group.

    A naive rank-range self-join keyed only on ``keys`` degenerates into
    a hash join whose range predicate is a *post-probe residual*: every
    row probes every same-key row, O(n²) comparisons per key. Banding
    fixes the join key, not the output: band ``b = (rn-1) div width``
    puts any in-range prev row in cur's band or the band before, so
    exploding cur into probe keys {b, b-1} and equi-joining on
    ``(keys…, probe = prev_band)`` bounds each hash bucket at ``width``
    rows. The residual range filter then trims the ≤2·width candidates
    to the exact window — O(width) work per row, and the join stays a
    shuffle-partitionable equi-join at any key cardinality.

    Returns the join with sides aliased ``cur`` / ``prev`` (select with
    ``F.col("cur.x")`` / ``F.col("prev.x")``); the internal ``__band``/
    ``__probe`` columns are not dropped — project past them.

    KEPT AS LIBRARY API (round-15 review of the round-14 rewrite): the
    indicator family's truncated-EWMA/mean-deviation stages moved to
    the ``_trailing_vals`` bounded window frame (confirmed faster by
    the r15 interleaved A/B, tools/ab_ewma.py), so no query path calls
    this today — but it remains the correct kernel whenever a bounded
    rank-range PAIR JOIN (not a frame aggregate) is needed, its
    equivalence tests pin the historical form, and the A/B harness
    exercises it as the baseline.
    """
    band = F.floor((F.col(rn) - 1) / width)
    prev = df.withColumn("__band", band).alias("prev")
    # each cur row probes its own band and the previous one; a given
    # (cur, prev) pair matches exactly one probe value, so no dup pairs
    cur = (df.withColumn("__probe", F.explode(F.array(band, band - 1)))
             .alias("cur"))
    cond = F.col("cur.__probe") == F.col("prev.__band")
    for k in keys:
        cond = cond & (F.col(f"cur.{k}") == F.col(f"prev.{k}"))
    cond = (cond
            & (F.col(f"prev.{rn}") > F.col(f"cur.{rn}") - width)
            & (F.col(f"prev.{rn}") <= F.col(f"cur.{rn}")))
    return cur.join(prev, cond)


def int_mean_half_away(sum_col: Column, n_col: Column) -> Column:
    """Round-half-away-from-zero integer mean ``round(sum/n)`` computed
    entirely with integer/floor arithmetic: floor((2|s|+n)/(2n)) with
    the sign reapplied.

    Use this instead of ``round(sum / n, d)`` whenever both engines
    must agree bit-for-bit: a ratio of integers can land EXACTLY on a
    rounding half (x.5 in the target grid) and Spark (shortest-decimal
    BigDecimal) and DuckDB (scaled-double) then round in opposite
    directions — the stock_var_es sf0.1 incident. The result is an
    exact integer; divide it by the grid once for display.
    """
    pos = F.floor((2 * sum_col + n_col) / (2 * n_col))
    neg = -F.floor((2 * -sum_col + n_col) / (2 * n_col))
    return F.when(sum_col >= 0, pos).otherwise(neg).cast("long")


def distributed_running_total(df: DataFrame, order: Sequence[str | Column],
                              value_col: str, out: str = "running"
                              ) -> DataFrame:
    """Exact global prefix sum of ``value_col`` over a total order
    WITHOUT the single-partition sort an empty-partitionBy running
    window plans — the cumulative twin of ``distributed_ntile`` and
    the building block for Pareto/ABC curves, cumulative market share,
    and quantile-by-mass queries.

    Same machinery: range-repartition on the order keys (checkpoint-
    pinned — offsets must never meet a resampled recompute), a
    partition-local running-sum window, then add the
    preceding partitions' totals (a numPartitions-sized control-plane
    collect). ``value_col`` must be an integer column — exact partial
    totals are what make the offsets reproducible; quantize floats to
    a grid first.
    """
    cols = _cols(order)
    ranged = pin_checkpoint(df.repartitionByRange(*cols).withColumn(
        "_drt_pid", F.spark_partition_id()))
    totals = {r["_drt_pid"]: r["t"] for r in
              ranged.groupBy("_drt_pid").agg(
                  F.sum(value_col).alias("t")).collect()}
    return _running_from_offsets(ranged, totals, cols, value_col, out)


def _running_from_offsets(ranged: DataFrame, totals: dict,
                          cols: list[Column], value_col: str,
                          out: str) -> DataFrame:
    acc, offsets = 0, {}
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid] or 0
    if not offsets:
        return (ranged.drop("_drt_pid")
                .withColumn(out, F.lit(None).cast("long")))
    off_expr = F.coalesce(
        F.create_map(*[F.lit(v) for pid, off in offsets.items()
                       for v in (pid, off)])[F.col("_drt_pid")],
        F.lit(0))
    w = (Window.partitionBy("_drt_pid").orderBy(*cols)
         .rowsBetween(Window.unboundedPreceding, 0))
    return (ranged.withColumn(
        out, (F.sum(value_col).over(w) + off_expr).cast("long"))
        .drop("_drt_pid"))


def distributed_cum_curve(df: DataFrame, order: Sequence[str | Column],
                          value_cols: Sequence[str],
                          outs: Sequence[str],
                          n_tiles: int | None = None,
                          tile_out: str = "ntile") -> DataFrame:
    """Exact global prefix sums of SEVERAL integer columns — and,
    optionally, the exact ``ntile(n)`` bucket — over one total order,
    from ONE range shuffle, ONE frozen checkpoint, ONE control-plane
    collect and ONE window sort (round-14).

    Composing :func:`distributed_running_total` per value column plus
    :func:`distributed_ntile` for the bucket (the original
    ``heaps_curve`` shape) pays the whole kernel — range-sample pass,
    eager checkpoint, offsets collect, window — once PER CURVE, plus
    an order-key join to reunite the curves. All of those share the
    same range partitioning, so they collapse: the per-partition
    collect returns every value sum AND the row count in one pass,
    each cumulative column adds its own offset map to one shared
    partition-local window, the global rank rides ``row_number`` over
    the same window spec (one physical sort), and the ntile bucket is
    the same exact ``divmod`` arithmetic as :func:`distributed_ntile`.

    Same contracts as the component kernels: integer value columns
    only, ``order`` must be a total order, the ranged slice is
    checkpoint-pinned so offsets never meet a resampled recompute.
    """
    if len(value_cols) != len(outs):
        # zip() below would silently drop trailing columns (r14 advice)
        raise ValueError(
            f"distributed_cum_curve: {len(value_cols)} value_cols vs "
            f"{len(outs)} outs")
    cols = _cols(order)
    ranged = pin_checkpoint(df.repartitionByRange(*cols).withColumn(
        "_dcc_pid", F.spark_partition_id()))
    aggs = [F.sum(v).alias(f"_s{i}") for i, v in enumerate(value_cols)]
    aggs.append(F.count(F.lit(1)).alias("_c"))
    rows = ranged.groupBy("_dcc_pid").agg(*aggs).collect()
    if not rows:
        out_df = ranged.drop("_dcc_pid")
        for o in outs:
            out_df = out_df.withColumn(o, F.lit(None).cast("long"))
        if n_tiles is not None:
            out_df = out_df.withColumn(tile_out, F.lit(None).cast("int"))
        return out_df
    acc = [0] * len(value_cols)
    cacc = 0
    offs: dict[int, tuple[list[int], int]] = {}
    for r in sorted(rows, key=lambda r: r["_dcc_pid"]):
        offs[r["_dcc_pid"]] = (list(acc), cacc)
        for i in range(len(value_cols)):
            acc[i] += r[f"_s{i}"] or 0
        cacc += r["_c"]
    total = cacc
    w = (Window.partitionBy("_dcc_pid").orderBy(*cols)
         .rowsBetween(Window.unboundedPreceding, 0))
    out_df = ranged
    for i, (v, o) in enumerate(zip(value_cols, outs)):
        off_expr = F.coalesce(
            F.create_map(*[F.lit(x) for pid, (vo, _) in offs.items()
                           for x in (pid, vo[i])])[F.col("_dcc_pid")],
            F.lit(0))
        out_df = out_df.withColumn(
            o, (F.sum(v).over(w) + off_expr).cast("long"))
    if n_tiles is not None:
        roff = F.coalesce(
            F.create_map(*[F.lit(x) for pid, (_, co) in offs.items()
                           for x in (pid, co)])[F.col("_dcc_pid")],
            F.lit(0))
        wr = Window.partitionBy("_dcc_pid").orderBy(*cols)
        rank = F.row_number().over(wr) + roff
        q, rem = divmod(total, n_tiles)
        bucket = F.when(
            rank <= F.lit(rem * (q + 1)),
            F.floor((rank - 1) / F.lit(q + 1)) + 1,
        ).otherwise(
            F.lit(rem) + F.floor((rank - 1 - F.lit(rem * (q + 1)))
                                 / F.lit(max(q, 1))) + 1)
        out_df = out_df.withColumn(tile_out, bucket.cast("int"))
    return out_df.drop("_dcc_pid")


def grouped_running_total(df: DataFrame, groups: Sequence[str],
                          order: Sequence[str | Column], value_col: str,
                          out: str = "running") -> DataFrame:
    """Exact PER-GROUP prefix sum of ``value_col`` that stays parallel
    even when one group holds most of the data — the hot-group-safe
    variant of ``sum(value) OVER (PARTITION BY groups ORDER BY order)``.

    A per-group running window is as parallel as its group count, and a
    window partition is a single task no matter how hot the key: one
    source carrying half the corpus serializes half the packing pass.
    This version range-partitions on (groups…, order…) — a hot group
    spans MANY contiguous partitions — computes per-(partition, group)
    totals (a control-plane collect bounded by numPartitions + the
    number of partition-group overlaps, NOT by row count; use it when
    groups are few-but-possibly-hot, e.g. corpus sources), derives each
    (partition, group)'s starting offset in plain Python, and adds it
    to a partition-local running window keyed on (partition, groups…).
    The broadcast offsets table replaces ``distributed_running_total``'s
    scalar map because group keys can be any type.

    ``value_col`` must be an integer column (exact partial totals);
    ``order`` must totally order rows WITHIN each group (include a
    unique tie-break).
    """
    gcols = [F.col(g) for g in groups]
    ocols = _cols(order)
    ranged = pin_checkpoint(
        df.repartitionByRange(*gcols, *ocols).withColumn(
            "_grt_pid", F.spark_partition_id()))
    totals = (ranged.groupBy("_grt_pid", *groups)
              .agg(F.sum(value_col).alias("_t")).collect())
    if not totals:
        return (ranged.drop("_grt_pid")
                .withColumn(out, F.lit(None).cast("long")))
    acc: dict[tuple, int] = {}
    rows = []
    for r in sorted(totals, key=lambda r: r["_grt_pid"]):
        key = tuple(r[g] for g in groups)
        rows.append((r["_grt_pid"],) + key + (acc.get(key, 0),))
        acc[key] = acc.get(key, 0) + (r["_t"] or 0)
    schema = (ranged.select(F.col("_grt_pid"), *gcols)
              .schema.add("_grt_off", "long"))
    # NULL group keys are a window partition of their own (both in
    # Spark's partitionBy and the SQL oracles), so the offset join
    # must be NULL-SAFE equality — a plain equi-join would silently
    # drop every NULL-keyed row (round-6 advisory). Rename the offset
    # side to keep the condition unambiguous.
    off = df.sparkSession.createDataFrame(rows, schema).select(
        F.col("_grt_pid").alias("_grt_opid"),
        *[F.col(g).alias(f"_grt_k{i}") for i, g in enumerate(groups)],
        "_grt_off")
    cond = F.col("_grt_pid") == F.col("_grt_opid")
    for i, g in enumerate(groups):
        cond = cond & F.col(g).eqNullSafe(F.col(f"_grt_k{i}"))
    w = (Window.partitionBy("_grt_pid", *groups).orderBy(*ocols)
         .rowsBetween(Window.unboundedPreceding, 0))
    return (ranged.join(F.broadcast(off), cond)
            .withColumn(out, (F.sum(value_col).over(w)
                              + F.col("_grt_off")).cast("long"))
            .drop("_grt_pid", "_grt_opid", "_grt_off",
                  *[f"_grt_k{i}" for i in range(len(groups))]))
