"""Raw stock JSON -> unified wide silver rows.

The reference's core transform (/root/reference/services/workers/tasks/
queue_for_delta.py:431-653) re-expressed on DataFrame ops end-to-end —
no Python row loops, no UDFs; the only driver-side actions are two tiny
metadata-discovery jobs (dynamic metric/field key sets and per-column
type election), both O(#columns), not O(#rows).

Row grain produced (queue_for_delta.py:12-19):
- financials: one row per (ticker, quarter) from the parallel arrays,
  ragged arrays null-padded (:495-505)
- ttm: one row per ticker, period_end_date = last quarterly period,
  dropped entirely when no quarterly dates exist (:555-587)
- metadata: one row per ticker, period_end_date NULL (:525-537)

Value semantics:
- null-string sentinels -> NULL everywhere (:457-459,497-503,530-537,580-586)
- metric 'roic_5yr_avg' excluded (:493)
- a metric column becomes double when every non-null value parses as a
  number, else stays string; all-null columns stay string (:607-641)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.normalize import normalize_key, normalize_null_sentinels
from ..schemas import RAW_STOCK_JSON

EXCLUDED_METRICS = ("roic_5yr_avg",)
PERIOD_KEY = "period_end_date"


def parse_raw(df: DataFrame) -> DataFrame:
    """S4: parse + structural validation of the ``json_str`` column. Adds
    `doc` (typed struct) and `is_valid` (payload is a JSON object with a
    'data' object inside — queue_for_delta.py:463-470). Invalid docs keep
    their raw string for error reporting."""
    parsed = df.withColumn("doc", F.from_json(F.col("json_str"), RAW_STOCK_JSON))
    # from_json yields null struct for malformed JSON; a JSON scalar/array
    # or an object without 'data' yields a null 'data' field.
    return parsed.withColumn("is_valid", F.col("doc.data").isNotNull())


def _discover_keys(parsed: DataFrame) -> tuple[list[str], list[str], list[str]]:
    """Dynamic schema discovery: the union of quarterly metric names, ttm
    metric names, and metadata field names present in the batch. One small
    aggregation job — the Spark analog of the reference iterating dict keys
    (queue_for_delta.py:492-506)."""
    row = parsed.select(
        F.array_distinct(F.flatten(F.collect_list(
            F.map_keys(F.col("doc.data.financials.quarterly"))))).alias("q"),
        F.array_distinct(F.flatten(F.collect_list(
            F.map_keys(F.col("doc.data.financials.ttm"))))).alias("t"),
        F.array_distinct(F.flatten(F.collect_list(
            F.map_keys(F.col("doc.data.metadata"))))).alias("m"),
    ).collect()[0]
    drop = set(EXCLUDED_METRICS) | {PERIOD_KEY}
    q = sorted(set(row["q"] or []) - drop)
    t = sorted(set(row["t"] or []) - drop)
    m = sorted(set(row["m"] or []))
    return q, t, m


def transform_stock_json(raw: DataFrame) -> DataFrame:
    """Transform a batch of raw documents into unified wide rows.

    ``raw``: one row per document, in columns ``ticker`` and ``json_str``
    (the bronze layout). Returns the silver relation:
    key columns (ticker, record_type, period_end_date) + a dynamic set of
    metric columns (double) and metadata columns (string).

    Scale: the explode produces #quarters rows per doc before any shuffle;
    everything is per-document (narrow) until the caller's merge, so the
    transform itself never shuffles the fact data.
    """
    parsed = parse_raw(raw).filter(F.col("is_valid"))
    q_metrics, t_metrics, m_fields = _discover_keys(parsed)
    metrics = sorted(set(q_metrics) | set(t_metrics))

    tick = normalize_key(F.col("ticker"))
    quarterly = F.col("doc.data.financials.quarterly")
    ttm = F.col("doc.data.financials.ttm")
    meta = F.col("doc.data.metadata")
    periods = quarterly.getItem(PERIOD_KEY)

    # -- financials: posexplode the period array, index the metric arrays
    # by position (parallel-array rotation; ragged arrays null-pad because
    # element_at past the end is NULL).
    fin_base = (parsed.filter(periods.isNotNull() & (F.size(periods) > 0))
                .select(tick.alias("ticker"), quarterly.alias("q"),
                        F.posexplode(periods).alias("pos", PERIOD_KEY)))
    fin = fin_base.select(
        "ticker", F.lit("financials").alias("record_type"),
        normalize_null_sentinels(F.col(PERIOD_KEY)).alias(PERIOD_KEY),
        *[normalize_null_sentinels(
            # try_element_at: index past a ragged array's end -> NULL
            # (null-padding, queue_for_delta.py:495-505) even under ANSI.
            F.try_element_at(F.col("q").getItem(mname), F.col("pos") + 1)
          ).alias(mname) for mname in metrics])

    # -- ttm: the 'TTM' placeholder period is replaced by the LAST quarterly
    # period; docs with no quarterly periods contribute no ttm row at all
    # (queue_for_delta.py:555-569).
    ttm_rows = (parsed.filter(ttm.isNotNull()
                              & periods.isNotNull() & (F.size(periods) > 0))
                .select(tick.alias("ticker"), F.lit("ttm").alias("record_type"),
                        normalize_null_sentinels(
                            F.element_at(periods, -1)).alias(PERIOD_KEY),
                        *[normalize_null_sentinels(
                            ttm.getItem(mname)).alias(mname)
                          for mname in metrics]))

    # -- metadata: one row, NULL period, string fields.
    meta_rows = (parsed.filter(meta.isNotNull())
                 .select(tick.alias("ticker"), F.lit("metadata").alias("record_type"),
                         F.lit(None).cast("string").alias(PERIOD_KEY),
                         *[normalize_null_sentinels(
                             meta.getItem(fname)).alias(fname)
                           for fname in m_fields]))

    # Union with schema alignment (metadata docs don't carry metric columns
    # and vice versa).
    from ..operators.merge import align_schemas
    fin_ttm = fin.unionByName(ttm_rows)
    a, b = align_schemas(fin_ttm, meta_rows)
    wide = a.unionByName(b)

    # -- type election per dynamic column (queue_for_delta.py:607-641):
    # double when every non-null value parses numerically, else string
    # (all-null -> string, Delta-has-no-null-type parity).
    dyn_cols = [c for c in wide.columns
                if c not in ("ticker", "record_type", PERIOD_KEY)]
    if not dyn_cols:
        return wide
    stats = wide.select(
        *[F.count(F.col(c)).alias(f"n_{i}") for i, c in enumerate(dyn_cols)],
        *[F.count(F.col(c).try_cast("double")).alias(f"d_{i}")
          for i, c in enumerate(dyn_cols)],
    ).collect()[0]
    casts = []
    for i, c in enumerate(dyn_cols):
        non_null, numeric = stats[f"n_{i}"], stats[f"d_{i}"]
        if non_null > 0 and numeric == non_null:
            casts.append(F.col(c).try_cast("double").alias(c))
        else:
            casts.append(F.col(c).cast("string").alias(c))
    return wide.select("ticker", "record_type", PERIOD_KEY, *casts)
