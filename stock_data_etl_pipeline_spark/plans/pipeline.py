"""End-to-end stock ETL data plane: the flagship path of SURVEY §3.1
re-expressed as one driver-orchestrated Spark job per batch of tickers.

Reference path (/root/reference/): POST /api/ticker/queue -> Celery fetch
task -> S3 raw JSON -> Polars transform -> delta-rs MERGE -> metadata sync
(queue_for_fetch.py, queue_for_delta.py, update_stock_metadata.py). The
queue hops disappear: phases become DataFrame stages, the batch's run rows
walk their states on the driver as each phase ends, and each table commits
at most once per batch (stocks: new tickers, then the metadata sync), so
the control-plane query surface works identically.

Storage layout under ``root``:
    bronze/<batch_id>/           raw documents (ticker, run_id, json_str)
    silver/stocks_unified/       the one wide table, MERGE-maintained,
                                 partitioned by record_type
    control/{stocks,exchanges,sectors,ingestion_runs,bulk_queue_runs}/

Scale: per-batch work is one narrow transform + one partition-pruned merge;
control tables are tiny relative to silver and merge on key-disjoint rows.
The reference serializes silver writes (delta worker concurrency=1); here a
batch IS the serialization unit, and Structured Streaming's foreachBatch
(streaming/ingest.py) gives the same guarantee for continuous ingest.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.normalize import normalize_key
from ..operators.merge import merge_insert_only, merge_upsert
from ..operators.windows import first_row_per_group
from ..schemas import (
    EXCHANGES,
    INGESTION_RUNS,
    SECTORS,
    SILVER_KEY_COLUMNS,
    STOCKS,
)
from ..sources.managed_table import ManagedTable
from ..state_machine import (
    IngestionState,
    advance,
    is_terminal_col,
    new_run_row,
    runs_dataframe,
)
from .stock_transform import transform_stock_json


def _now() -> datetime:
    return datetime.now(tz=timezone.utc).replace(tzinfo=None)


class StockLake:
    """The engine's table root: control plane + silver lake + bronze zone."""

    def __init__(self, spark: SparkSession, root: str,
                 on_run_failed=None) -> None:
        """``on_run_failed(run_id, ticker, error_code, error_message)`` is
        invoked after a FAILED transition commits — the reference's
        on-commit Discord notification hook (stock_ingestion_service.py:
        250-252,336-370) as a driver callback."""
        self.spark = spark
        self.root = root
        self.on_run_failed = on_run_failed
        # partition by low-cardinality record_type; cluster files by
        # (ticker, period_end_date) for row-group skipping — the Z-ORDER
        # layout SURVEY §4 calls for
        self.silver = ManagedTable(spark, os.path.join(root, "silver/stocks_unified"),
                                   partition_by=["record_type"],
                                   cluster_by=["ticker", "period_end_date"])
        self.stocks = ManagedTable(spark, os.path.join(root, "control/stocks"))
        self.exchanges = ManagedTable(spark, os.path.join(root, "control/exchanges"))
        self.sectors = ManagedTable(spark, os.path.join(root, "control/sectors"))
        self.runs = ManagedTable(spark, os.path.join(root, "control/ingestion_runs"))
        self.bulk_runs = ManagedTable(spark, os.path.join(root, "control/bulk_queue_runs"))

    # -- control-plane helpers ---------------------------------------------
    def _read_or_empty(self, tbl: ManagedTable, schema) -> DataFrame:
        if tbl.exists():
            return tbl.read()
        return self.spark.createDataFrame([], schema)

    def read_runs(self) -> DataFrame:
        return self._read_or_empty(self.runs, INGESTION_RUNS)

    def read_stocks(self) -> DataFrame:
        return self._read_or_empty(self.stocks, STOCKS)

    def get_or_create_stocks(self, tickers: list[str]) -> DataFrame:
        """M1 for stocks: ticker-keyed insert-only merge; tickers normalized
        strip().upper() at the boundary (models.py:172-181); commits only
        when a ticker is new."""
        ts = _now()
        norm = {t.strip().upper() for t in tickers}
        current = self.read_stocks()
        have = current.filter(F.col("ticker").isin(*norm)).select("ticker").collect()
        new = sorted(norm - {r["ticker"] for r in have})
        if not new:
            return current
        fresh = self.spark.createDataFrame(
            [(str(uuid.uuid4()), t, None, None, None, None, None, None, None,
              None, None, ts, ts) for t in new], STOCKS)
        merged = merge_insert_only(current, fresh, ["ticker"])
        self.stocks.overwrite(merged)
        return merged

    def get_or_create_dim(self, tbl: ManagedTable, schema, names: list[str],
                          normalize: bool) -> DataFrame:
        """M1 for exchanges (normalize=True: stored UPPER+trimmed,
        models.py:61-70) and sectors (normalize=False: case-preserved,
        matched case-insensitively, models.py:83-92)."""
        ts = _now()
        current = self._read_or_empty(tbl, schema)
        seen: dict[str, str] = {}
        for n in names:
            if n is None or not n.strip():
                continue
            stored = n.strip().upper() if normalize else n.strip()
            seen.setdefault(stored.upper(), stored)
        fresh = self.spark.createDataFrame(
            [(str(uuid.uuid4()), stored, ts, ts) for stored in seen.values()],
            schema).withColumn("match_key", normalize_key(F.col("name")))
        cur_keyed = current.withColumn("match_key", normalize_key(F.col("name")))
        if fresh.join(cur_keyed, "match_key", "left_anti").isEmpty():
            return current  # no new name: nothing to commit
        merged = merge_insert_only(cur_keyed, fresh, ["match_key"]).drop("match_key")
        tbl.overwrite(merged)
        return merged

    def _active_run_ids(self, tickers: list[str]) -> dict[str, str]:
        """ticker -> id of an existing non-terminal run — the reference's
        partial-unique-constraint skip/409 path (models.py:386-399,
        stock_ingestion_service.py:268-334) as a batch lookup."""
        if not tickers or not self.runs.exists():
            return {}
        rows = (self.read_runs()
                .filter(F.col("ticker").isin(tickers)
                        & ~is_terminal_col(F.col("state")))
                .select("ticker", "id").collect())
        return {r["ticker"]: r["id"] for r in rows}

    # -- the flagship path --------------------------------------------------
    def ingest_batch(self, docs: list[tuple[str, str]],
                     requested_by: str | None = None) -> dict:
        """Run the full pipeline for a batch of (ticker, raw_json) docs
        whose payloads are already in driver memory (the interactive POST
        path); executor-fetched payloads take ``fetch_and_ingest``.

        Returns {"batch_id", "run_ids", "skipped", "n_silver_rows"}. Each
        run walks the reference's task chain (§3.1): QUEUED_FOR_FETCH ->
        FETCHING -> FETCHED -> QUEUED_FOR_DELTA -> DELTA_RUNNING ->
        DELTA_FINISHED -> DONE, stamped on the driver as each phase ends;
        the final run rows commit once, then the metadata sync.
        """
        # M2 batch form: dedupe tickers within the batch (first payload
        # wins) and skip stocks that already have a non-terminal run —
        # mirrors queue_for_fetch's created=False path, preserving the
        # one-active-run-per-stock invariant for the batch path too.
        uniq: dict[str, str] = {}
        for t, payload in docs:
            uniq.setdefault(t.strip().upper(), payload)
        skipped = self._active_run_ids(list(uniq))
        todo = {t: p for t, p in uniq.items() if t not in skipped}
        raw_src = self.spark.createDataFrame(
            list(todo.items()), "ticker string, json_str string")
        out = self._ingest_raw(raw_src, list(todo), {}, requested_by)
        del out["failed_run_ids"]
        out["skipped"] = skipped
        return out

    def _ingest_raw(self, raw_src: DataFrame, tickers: list[str],
                    fetch_errors: dict[str, str],
                    requested_by: str | None) -> dict:
        """Shared ingest core over a (ticker, json_str) relation. Payloads
        never pass through the driver: the bronze landing is a join of the
        source relation to the (tiny, broadcast) ticker->run_id map,
        written to parquet straight from executors. ``tickers`` must be
        normalized and deduplicated by the caller; a ``fetch_errors`` ticker
        gets a run failed with its code. All runs commit in one overwrite."""
        if not tickers and not fetch_errors:
            return {"batch_id": None, "run_ids": [], "failed_run_ids": [],
                    "n_silver_rows": self.silver.num_rows()}
        everyone = tickers + list(fetch_errors)
        stocks = self.get_or_create_stocks(everyone)
        tick_to_stock = {r["ticker"]: r["id"] for r in stocks.filter(
            F.col("ticker").isin(everyone)).select("ticker", "id").collect()}

        # M2: one new run per ticker (the active-run guard ran in the
        # caller); a fetch error fails its run straight from the queue
        rows = [new_run_row(tick_to_stock[t], t, requested_by=requested_by) for t in tickers]
        failed_rows = [new_run_row(tick_to_stock[t], t, requested_by=requested_by)
                       for t in fetch_errors]
        for r, code in zip(failed_rows, fetch_errors.values()):
            advance([r], IngestionState.FAILED, error_code=code,
                    error_message=f"fetch failed for {r['ticker']}: {code}")

        batch_id, bad, ok = None, [], []
        if rows:
            batch_id = uuid.uuid4().hex[:12]
            advance(rows, IngestionState.FETCHING)
            # bronze landing (S2): columnar raw zone, one dir per batch
            bronze_path = os.path.join(self.root, "bronze", batch_id)
            rid_map = self.spark.createDataFrame(
                [(r["ticker"], r["id"]) for r in rows], "ticker string, run_id string")
            raw = (raw_src.join(F.broadcast(rid_map), "ticker")
                   .select("ticker", "run_id", "json_str"))
            raw.write.mode("overwrite").parquet(bronze_path)
            advance(rows, IngestionState.FETCHED, raw_data_uri=bronze_path)
            advance(rows, IngestionState.QUEUED_FOR_DELTA)

            # silver transform + merge (S3/S4/F8-F10/S5/S6)
            advance(rows, IngestionState.DELTA_RUNNING)
            bronze = self.spark.read.parquet(bronze_path)
            # S4 failure path: structurally invalid documents fail their
            # run with the reference's INVALID_DATA_FORMAT code instead of
            # poisoning the batch (queue_for_delta.py:463-470).
            from .stock_transform import parse_raw
            valid = {r["run_id"] for r in parse_raw(bronze)
                     .filter("is_valid").select("run_id").collect()}
            bad = [r for r in rows if r["id"] not in valid]
            ok = [r for r in rows if r["id"] in valid]
            advance(bad, IngestionState.FAILED,
                    error_code="INVALID_DATA_FORMAT",
                    error_message="payload is not a JSON object with a 'data' key")
            if ok:
                self.silver.merge(transform_stock_json(bronze), SILVER_KEY_COLUMNS)
                advance(ok, IngestionState.DELTA_FINISHED,
                        processed_data_uri=self.silver.path)
                advance(ok, IngestionState.DONE)

        self.runs.overwrite(merge_upsert(
            self.read_runs(), runs_dataframe(self.spark, rows + failed_rows),
            ["id"]))
        if self.on_run_failed is not None:
            for r in bad + failed_rows:
                self.on_run_failed(r["id"], r["ticker"], r["error_code"],
                                   r["error_message"])

        # M4: metadata sync back into the stocks control table
        self.sync_stock_metadata([r["ticker"] for r in ok])
        return {"batch_id": batch_id, "run_ids": [r["id"] for r in rows],
                "failed_run_ids": [r["id"] for r in failed_rows],
                "n_silver_rows": self.silver.num_rows()}

    def fetch_and_ingest(self, tickers: list[str], transport,
                         requested_by: str | None = None) -> dict:
        """The complete §3.1 chain including fetch: pull every ticker's
        document through the (executor-parallel) fetch operator, FAIL the
        runs of tickers whose fetch errored — with the taxonomy code as
        error_code, exactly like the reference maps API errors to run
        failures (queue_for_fetch.py:310-405) — and ingest the rest.

        Only (ticker, error_code) rows ever cross to the driver; the
        fetched payloads flow from the fetch executors into the bronze
        parquet directly (the reference's per-worker stream-to-S3 shape,
        queue_for_fetch.py:408-474 — never through a coordinator), so
        driver memory is independent of batch payload volume."""
        from ..sources.fetch import fetch_tickers
        norm = list(dict.fromkeys(t.strip().upper() for t in tickers))
        tick_df = self.spark.createDataFrame([(t,) for t in norm],
                                             "ticker string")
        # persisted: the status collect and the bronze landing both read
        # it, and the fetch must not re-run (side-effecting transport)
        fetched = fetch_tickers(tick_df, transport).persist()
        status = {r["ticker"]: r["error_code"] for r in
                  fetched.select("ticker", "error_code").collect()}
        ok = [t for t in norm if status.get(t) is None]
        failed = {t: status[t] for t in norm if status.get(t) is not None}

        skipped = self._active_run_ids(ok)
        todo = [t for t in ok if t not in skipped]
        # inner join to the run-id map inside _ingest_raw drops skipped
        # tickers; no payload filter needed driver-side
        ok_src = (fetched.filter(F.col("error_code").isNull())
                  .select("ticker", "json_str"))
        out = self._ingest_raw(ok_src, todo, failed, requested_by)
        fetched.unpersist()
        out["skipped"] = skipped
        out["failed"] = failed
        return out

    # -- raw passthrough (S8) ----------------------------------------------
    def read_raw_json(self, ticker: str) -> str | None:
        """S8: serve the latest DONE run's raw document verbatim
        (reference views/stocks.py:134-353: latest DONE run -> S3 get ->
        validate JSON -> passthrough). Returns None when the ticker has no
        DONE run; raises ValueError when the stored payload is not valid
        JSON (the reference's 502-corrupt-object path)."""
        import json as _json

        from ..operators.windows import latest_per_group
        t = ticker.strip().upper()
        runs = self.read_runs().filter(
            (F.col("ticker") == t) & (F.col("state") == IngestionState.DONE))
        latest = latest_per_group(
            runs, ["ticker"],
            [F.col("created_at").desc(), F.col("id").desc()]).collect()
        if not latest:
            return None
        run = latest[0]
        raw = (self.spark.read.parquet(run["raw_data_uri"])
               .filter((F.col("run_id") == run["id"]) & (F.col("ticker") == t))
               .select("json_str").collect())
        if not raw:
            return None
        payload = raw[0]["json_str"]
        try:
            _json.loads(payload)
        except (ValueError, TypeError) as exc:
            raise ValueError(f"stored raw document for {t} is not valid JSON") from exc
        return payload

    # -- metadata sync (M4) -------------------------------------------------
    def sync_stock_metadata(self, tickers: list[str]) -> DataFrame:
        """S7 pushdown read of ``tickers``' metadata rows + changed-fields-
        only update of stocks, resolving exchange/sector through dim
        get-or-create (update_stock_metadata.py:195-469)."""
        if not tickers or not self.silver.exists():
            return self.read_stocks()
        silver = self.silver.read()
        meta_cols = [c for c in
                     ("name", "country", "subindustry", "morningstar_sector",
                      "morningstar_industry", "industry", "description",
                      "sector", "exchange") if c in silver.columns]
        if not meta_cols:
            return self.read_stocks()
        # predicate reaches the scan: record_type partition + projection
        meta = (silver.filter((F.col("record_type") == "metadata")
                              & F.col("ticker").isin(tickers))
                .select("ticker", *[F.col(c).cast("string").alias(c)
                                    for c in meta_cols]))
        # W3: single metadata row per ticker, deterministic pick
        meta = first_row_per_group(meta, ["ticker"], [F.col(c) for c in meta_cols])

        names = [r.asDict() for r in meta.select(
            *(c for c in ("exchange", "sector") if c in meta.columns)).collect()]
        exch_df = sect_df = None
        if "exchange" in meta.columns:
            exch_df = self.get_or_create_dim(
                self.exchanges, EXCHANGES,
                [n.get("exchange") for n in names], normalize=True)
        if "sector" in meta.columns:
            sect_df = self.get_or_create_dim(
                self.sectors, SECTORS,
                [n.get("sector") for n in names], normalize=False)

        src = meta
        if exch_df is not None:
            e = exch_df.select(F.col("id").alias("exchange_id"),
                               normalize_key(F.col("name")).alias("_ek"))
            src = (src.withColumn("_ek", normalize_key(F.col("exchange")))
                   .join(F.broadcast(e), "_ek", "left").drop("_ek", "exchange"))
        if sect_df is not None:
            s = sect_df.select(F.col("id").alias("sector_id"),
                               normalize_key(F.col("name")).alias("_sk"))
            src = (src.withColumn("_sk", normalize_key(F.col("sector")))
                   .join(F.broadcast(s), "_sk", "left").drop("_sk", "sector"))

        # Changed-fields-only overlay: a NULL metadata field never clobbers
        # an existing value (the reference drops null fields from the update
        # dict, update_stock_metadata.py:256-271), and updated_at moves only
        # when something actually changed (no spurious cache invalidation,
        # :292-469).
        stocks = self.read_stocks()
        t, s = stocks.alias("t"), src.alias("s")
        overlay_cols = [c for c in src.columns if c != "ticker"]
        changed = F.lit(False)
        for c in overlay_cols:
            new_val = F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}"))
            changed = changed | ~new_val.eqNullSafe(F.col(f"t.{c}"))
        out_cols = []
        for c in stocks.columns:
            if c in overlay_cols:
                out_cols.append(F.coalesce(F.col(f"s.{c}"),
                                           F.col(f"t.{c}")).alias(c))
            elif c == "updated_at":
                out_cols.append(F.when(changed, F.lit(_now()))
                                .otherwise(F.col("t.updated_at"))
                                .alias("updated_at"))
            else:
                out_cols.append(F.col(f"t.{c}").alias(c))
        merged = t.join(s, F.col("t.ticker") == F.col("s.ticker"), "left") \
                  .select(*out_cols)
        self.stocks.overwrite(merged)
        return merged
