"""Turns a finished workload (and, when traced, its spans) into metrics."""

from __future__ import annotations

import json
from collections import Counter

from . import gen
from .metrics import CATALOG_QUERIES, END_TO_END, LAYERS, mean, pct
from .tracer import Tracer
from .workloads import CatalogAnalytics, dir_stats


def _prune_ratio(args, kwargs, kept) -> dict:
    tbl = args[0]
    with open(tbl._pointer) as fh:
        total = len(tbl._read_manifest(json.load(fh)["version"]))
    return {"dirs_kept": len(kept), "dirs_total": total}


def _batch_counts(args, kwargs, out) -> dict:
    # (self, tickers | docs, ...) -> batch size and fetch failures by code
    return {"requested": len(args[1]),
            "failed": dict(Counter(out.get("failed", {}).values()))}


def install_tracer(spark) -> Tracer:
    """Trace the program's public surface named in README.md."""
    from stock_data_etl_pipeline_spark import state_machine
    from stock_data_etl_pipeline_spark.operators import merge
    from stock_data_etl_pipeline_spark.plans import bulk, gold, pipeline, queries, stock_transform
    from stock_data_etl_pipeline_spark.sources import fetch, managed_table

    t = Tracer(spark.sparkContext)
    t.wrap_methods(managed_table.ManagedTable, "managed_table",
                   on_return={"prune_dirs": _prune_ratio})
    t.wrap_methods(pipeline.StockLake, "pipeline",
                   on_return={"fetch_and_ingest": _batch_counts,
                              "ingest_batch": _batch_counts})
    t.wrap_function(stock_transform, "transform_stock_json", "stock_transform")
    t.wrap_function(stock_transform, "parse_raw", "stock_transform")
    t.wrap_function(state_machine, "transition", "state_machine")
    t.wrap_function(merge, "merge_upsert", "merge")
    for f in ("list_runs", "stock_detail", "latest_run_for_stock"):
        t.wrap_function(queries, f, "queries")
    t.wrap_methods(gold.GoldViews, "gold", ["get", "notify_write"],
                   on_return={"notify_write":
                              lambda a, k, out: {"invalidated": len(out)}})
    t.wrap_function(fetch, "fetch_tickers", "fetch")
    t.wrap_function(bulk, "queue_all_stocks", "bulk")
    t.wrap_function(bulk, "bulk_run_stats", "bulk")
    return t


def e2e_metrics(wl, setup_s: float, rss_mb: float, window_cpu_s: float) -> dict:
    vals = {"setup_s": setup_s, "peak_rss_mb": rss_mb, **wl.e2e(window_cpu_s)}
    return {n: {"value": vals[n], "unit": u} for n, (u, _) in END_TO_END.items()}


def layer_metrics(wl, tracer: Tracer) -> dict:
    m = {name: 0.0 for name, *_ in LAYERS}
    spans, named = tracer.spans, tracer.named

    def total(n, attr="dur"):
        return sum(getattr(s, attr) for s in named(n))

    def in_requests(n):
        # spans of the measured request loop (a traced set-up may warm the
        # same functions outside any request)
        return [s for s in named(n) if s.rid is not None]

    ops = wl.ops
    batches = named("pipeline.ingest_batch") + named("pipeline.fetch_and_ingest")
    nb = len(batches)
    if nb:
        m["ingest_tickers_per_s"] = (sum(s.extra["requested"] for s in batches)
                                     / sum(s.dur for s in batches))
        m["ingest_batch_p50_s"] = pct([s.dur for s in batches], 50)
        m["pipeline.spark_jobs_per_batch"] = sum(s.incl_jobs for s in batches) / nb
        m["pipeline.spark_stages_per_batch"] = sum(s.incl_stages for s in batches) / nb
        m["pipeline.ingest.self_s"] = sum(s.self_s for s in batches) / nb
        for key, span in (("sync_stock_metadata_s", "sync_stock_metadata"),
                          ("get_or_create_stocks_s", "get_or_create_stocks"),
                          ("get_or_create_dim_s", "get_or_create_dim")):
            m[f"pipeline.{key}"] = total(f"pipeline.{span}") / nb
        m["stock_transform.transform_s"] = total("stock_transform.transform_stock_json") / nb
        m["stock_transform.parse_raw_s"] = total("stock_transform.parse_raw") / nb
        m["stock_transform.jobs"] = total("stock_transform.transform_stock_json",
                                          "incl_jobs") / nb
        m["state_machine.transition_calls_per_batch"] = len(named("state_machine.transition")) / nb
        m["state_machine.transition_s"] = total("state_machine.transition") / nb
        m["merge.merge_upsert_s"] = total("merge.merge_upsert") / nb
        m["managed_table.merge_s"] = total("managed_table.merge") / nb
        m["managed_table.overwrite_s"] = total("managed_table.overwrite") / nb
    walks = getattr(wl, "walks", [])
    if walks:
        m["managed_table.bytes_written_per_batch"] = mean([w[0] for w in walks])
        m["managed_table.files_written_per_batch"] = mean([w[1] for w in walks])
        m["managed_table.commits_per_batch"] = mean([w[2] for w in walks])
    model = getattr(wl, "model", None)
    if model is not None and model.input_bytes:
        m["lake_bytes_per_input_byte"] = dir_stats(model.lake.root)[0] / model.input_bytes

    reads = [x for k in gen.READ_TYPES for x in ops.lat[k]]
    if reads:
        m["reads_per_s"] = len(reads) / wl.read_wall
        m["read_p50_ms"] = pct(reads, 50) * 1e3
        m["read_p95_ms"] = pct(reads, 95) * 1e3
        for k in gen.READ_TYPES:
            m[f"{k}_p50_ms"] = pct(ops.lat[k], 50) * 1e3
        req = [s for s in spans if s.name.startswith("request.")]
        m["queries.spark_jobs_per_read"] = sum(s.incl_jobs for s in req) / len(reads)
        m["pagination.pages_walked"] = wl.reads.pages_walked
        m["gold.get_calls"] = len(in_requests("gold.get"))
        m["gold.builds"] = wl.gold.build_count("bulk_stats") - wl.builds0
        if m["gold.get_calls"]:
            m["gold.hit_ratio"] = 1.0 - m["gold.builds"] / m["gold.get_calls"]
        m["gold.invalidations"] = sum(s.extra.get("invalidated", 0)
                                      for s in named("gold.notify_write"))
    for fn in ("list_runs", "stock_detail", "latest_run_for_stock"):
        m[f"queries.{fn}.plan_s"] = mean([s.dur for s in in_requests(f"queries.{fn}")])
        m[f"queries.{fn}.exec_s"] = mean([s.dur for s in in_requests(f"exec.{fn}")])
    m["managed_table.read_s"] = mean([s.dur for s in in_requests("managed_table.read")])
    m["managed_table.read_where_s"] = mean([s.dur for s in in_requests("managed_table.read_where")])
    prunes = in_requests("managed_table.prune_dirs")
    kept = sum(s.extra["dirs_kept"] for s in prunes)
    if prunes:
        m["managed_table.read_where_dirs_kept_ratio"] = kept / max(
            1, sum(s.extra["dirs_total"] for s in prunes))

    fetches = named("pipeline.fetch_and_ingest")
    m["fetch.tickers_requested"] = sum(s.extra["requested"] for s in fetches)
    for s in fetches:
        for code, n in s.extra["failed"].items():
            if f"fetch.tickers_failed.{code}" in m:
                m[f"fetch.tickers_failed.{code}"] += n

    if isinstance(wl, CatalogAnalytics):
        for q, secs in wl.pass_medians().items():
            m[f"catalog.{q}.s"] = secs
        m["catalog_pass_s"] = sum(wl.pass_medians().values())
        m["catalog.spark_jobs"] = sum(mean(wl.jobs[q]) for q in CATALOG_QUERIES)

    m["op_error_rate"] = ops.failed / max(1, ops.attempted)
    for layer, secs in tracer.self_time_by_layer().items():
        if f"self.{layer}_s" in m:
            m[f"self.{layer}_s"] = secs
    m["trace.overhead_s"] = tracer.overhead_s
    m["trace.overhead_pct"] = 100.0 * tracer.overhead_s / tracer.traced_s
    m["trace.spans"] = len(spans)
    units = {name: unit for name, unit, *_ in LAYERS}
    return {n: {"value": v, "unit": units.get(n, "count")} for n, v in m.items()}
