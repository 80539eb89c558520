"""Metric definitions, percentile helpers and the per-layer map.

End-to-end metrics are the same three on every workload, each read as that
workload's unit of work (README.md, "End-to-end metrics"). Per-layer
metrics come from the traced run; ``LAYERS`` names, for each one, the
figure it should move and the workloads that show it.
"""

from __future__ import annotations

import math

from .gen import FETCH_ERROR_CODES

CATALOG_QUERIES = ["keyset_page2", "latest_order_per_customer",
                   "state_counts_zerofill", "merge_upsert_result",
                   "q3_shipping_priority", "join_revenue_by_nation",
                   "stock_ohlc_bars", "stock_ewma_trend",
                   "events_sessionization", "dedup_minhash_lsh"]

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cpu_ms_per_op": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

_INGEST = "ingest_bulk"
_READS = "api_reads"
_MIXED = "interactive_mixed"
_CAT = "catalog_analytics"
# api_reads traces its set-up batch too: that fetch_and_ingest is where the
# listed workloads measure the ingest layers (README.md, "Layer map")
_SETUP = f"{_READS} (traced set-up batch); {_INGEST}; {_MIXED} writer"
_BATCH = "ingest_batch_p50_s -> setup_s"

# (name, unit, better, what it should move, workloads that show it)
LAYERS: list[tuple[str, str, str, str, str]] = [
    # whole-workload figures, taken in the traced run
    ("ingest_tickers_per_s", "1/s", "higher", "setup_s; cpu_ms_per_op on ingest_bulk", _SETUP),
    ("ingest_batch_p50_s", "s", "lower", "setup_s; cpu_ms_per_op on ingest_bulk", _SETUP),
    ("reads_per_s", "1/s", "higher", "cpu_ms_per_op", f"{_READS}, {_MIXED}"),
    ("read_p50_ms", "ms", "lower", "cpu_ms_per_op", f"{_READS}, {_MIXED}"),
    ("read_p95_ms", "ms", "lower", "none (the tail is not gated)", f"{_READS}, {_MIXED}"),
    *[(f"{k}_p50_ms", "ms", "lower", "read_p50_ms -> cpu_ms_per_op", _READS)
      for k in ("list_runs", "stock_detail", "latest_run", "silver_range",
                "bulk_stats", "raw_json")],
    ("catalog_pass_s", "s", "lower", "cpu_ms_per_op", _CAT),
    ("op_error_rate", "ratio", "lower", "failed / attempted", "all"),
    ("lake_bytes_per_input_byte", "ratio", "lower", "setup_s", _SETUP),
    # pipeline
    *[(f"pipeline.{n}", u, "lower", _BATCH, _SETUP)
      for n, u in (("spark_jobs_per_batch", "count"),
                   ("spark_stages_per_batch", "count"), ("ingest.self_s", "s"),
                   ("sync_stock_metadata_s", "s"), ("get_or_create_stocks_s", "s"),
                   ("get_or_create_dim_s", "s"))],
    # transform
    *[(f"stock_transform.{n}", u, "lower", "ingest_tickers_per_s -> setup_s", _SETUP)
      for n, u in (("transform_s", "s"), ("parse_raw_s", "s"), ("jobs", "count"))],
    # state machine, merge and table writes
    ("state_machine.transition_calls_per_batch", "count", "lower", _BATCH, _SETUP),
    ("state_machine.transition_s", "s", "lower", _BATCH, _SETUP),
    ("merge.merge_upsert_s", "s", "lower", _BATCH, _SETUP),
    ("managed_table.merge_s", "s", "lower", _BATCH, _SETUP),
    ("managed_table.overwrite_s", "s", "lower", _BATCH, _SETUP),
    *[(f"managed_table.{n}", u, "lower", "lake_bytes_per_input_byte -> setup_s", _SETUP)
      for n, u in (("bytes_written_per_batch", "bytes"),
                   ("files_written_per_batch", "count"),
                   ("commits_per_batch", "count"))],
    # table reads
    ("managed_table.read_s", "s", "lower", "read_p50_ms -> cpu_ms_per_op", _READS),
    ("managed_table.read_where_s", "s", "lower", "silver_range_p50_ms -> cpu_ms_per_op", _READS),
    ("managed_table.read_where_dirs_kept_ratio", "ratio", "lower",
     "silver_range_p50_ms -> cpu_ms_per_op", _READS),
    # query service
    *[(f"queries.{fn}.{part}", "s", "lower", f"{short}_p50_ms -> cpu_ms_per_op", _READS)
      for fn, short in (("list_runs", "list_runs"), ("stock_detail", "stock_detail"),
                        ("latest_run_for_stock", "latest_run"))
      for part in ("plan_s", "exec_s")],
    ("queries.spark_jobs_per_read", "count", "lower", "read_p50_ms -> cpu_ms_per_op", _READS),
    ("pagination.pages_walked", "count", "higher", "list_runs_p50_ms -> cpu_ms_per_op", _READS),
    # gold views
    ("gold.get_calls", "count", "higher", "bulk_stats_p50_ms -> cpu_ms_per_op", f"{_READS}, {_MIXED}"),
    ("gold.builds", "count", "lower", "bulk_stats_p50_ms -> cpu_ms_per_op", f"{_READS}, {_MIXED}"),
    ("gold.hit_ratio", "ratio", "higher",
     "bulk_stats_p50_ms (api_reads); read_p95_ms (interactive_mixed)", f"{_READS}, {_MIXED}"),
    ("gold.invalidations", "count", "lower", "read_p95_ms (not gated)", _MIXED),
    # fetch
    ("fetch.tickers_requested", "count", "higher", "op_error_rate", f"{_READS} (set-up); {_INGEST}"),
    *[(f"fetch.tickers_failed.{code}", "count", "lower", "op_error_rate",
       f"{_READS} (set-up); {_INGEST}")
      for code in FETCH_ERROR_CODES],
    # catalog
    *[(f"catalog.{q}.s", "s", "lower", "catalog_pass_s -> cpu_ms_per_op", _CAT)
      for q in CATALOG_QUERIES],
    ("catalog.spark_jobs", "count", "lower", "cpu_ms_per_op", _CAT),
    # self time per layer over the traced scope
    *[(f"self.{layer}_s", "s", "lower", "the traced workload's cpu_ms_per_op", "all")
      for layer in ("pipeline", "stock_transform", "state_machine", "merge",
                    "managed_table", "fetch", "queries", "gold", "bulk",
                    "request")],
    # the tracer itself
    ("trace.overhead_s", "s", "lower", "none (tracer cost)", "all"),
    ("trace.overhead_pct", "%", "lower", "none (tracer cost)", "all"),
    ("trace.spans", "count", "lower", "none (tracer cost)", "all"),
]

def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0
