"""End-to-end stock ETL data plane: the flagship path of SURVEY §3.1
re-expressed as one driver-orchestrated Spark job per batch of tickers.

Reference path (/root/reference/): POST /api/ticker/queue -> Celery fetch
task -> S3 raw JSON -> Polars transform -> delta-rs MERGE -> metadata sync
(queue_for_fetch.py, queue_for_delta.py, update_stock_metadata.py). The
queue hops disappear: phases become DataFrame stages, the batch's run rows
walk their states on the driver as each phase ends, and each table commits
at most once per batch (stocks: new tickers and synced metadata overlaid
on driver rows, and no commit when nothing changed), so the control-plane
query surface works identically.

Storage layout under ``root``:
    bronze/<batch_id>/           raw documents (ticker, run_id, json_str)
    silver/stocks_unified/       the one wide table, MERGE-maintained,
                                 partitioned by record_type
    control/{stocks,exchanges,sectors,ingestion_runs,bulk_queue_runs}/

Scale: per-batch work is one narrow transform + one partition-pruned merge;
control tables are tiny relative to silver, and the driver already holds
every control row a batch writes, so they are looked up and committed on
the driver through Arrow (``ManagedTable.read_arrow`` and ``write_rows``),
with no Spark job, as the reference's control plane is a one-node row
store (SURVEY §1.1). New runs and dim rows append; ``stocks`` is rewritten,
because the metadata sync edits rows, at the version its lookup read.
The reference serializes silver writes (delta worker concurrency=1); here a
batch IS the serialization unit, and Structured Streaming's foreachBatch
(streaming/ingest.py) gives the same guarantee for continuous ingest.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.normalize import key_of
from ..operators.pagination import sort_columns
from ..operators.windows import latest_per_group
from ..schemas import (
    BRONZE,
    BULK_QUEUE_RUNS,
    EXCHANGES,
    INGESTION_RUNS,
    SECTORS,
    SILVER_KEY_COLUMNS,
    STOCK_METADATA_FIELDS,
    STOCKS,
)
from ..sources.managed_table import (
    ConcurrentModificationError,
    ManagedTable,
    SnapshotView,
)
from ..state_machine import IngestionState, advance, is_terminal_col, new_run_row
from .retry import with_retry
from .stock_transform import transform_stock_json


# the runs list's order (paginator.py:24-29), ties broken by the larger id
RUN_ORDER = [("created_at", True), ("id", True)]


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
        # the control tables are small, looked up and committed on the
        # driver, and read empty under their schema before a first commit
        def control(name, schema):
            return ManagedTable(spark, os.path.join(root, "control", name),
                                schema=schema)
        self.stocks = control("stocks", STOCKS)
        self.exchanges = control("exchanges", EXCHANGES)
        self.sectors = control("sectors", SECTORS)
        self.runs = control("ingestion_runs", INGESTION_RUNS)
        self.bulk_runs = control("bulk_queue_runs", BULK_QUEUE_RUNS)
        # the small derived views the API serves, held on the driver and
        # rebuilt when a table they read commits (SnapshotView): every
        # stock with its exchange and sector names joined in
        # (serializers.py:85-101), each ticker's newest run and newest
        # DONE run (W1/W2, models.py:247-298), ties broken by the larger id,
        # and every run in the runs list's order (the reference's index on
        # -created_at), so a list page only filters and limits
        self.stock_details = SnapshotView(
            self._join_stock_details, [self.stocks, self.exchanges, self.sectors])
        self.latest_runs = SnapshotView(lambda: self._latest_runs(False),
                                        [self.runs])
        self.latest_done_runs = SnapshotView(lambda: self._latest_runs(True),
                                             [self.runs])
        self.runs_by_recency = SnapshotView(self._runs_by_recency, [self.runs])

    # -- control-plane helpers ---------------------------------------------
    def read_runs(self) -> DataFrame:
        return self.runs.read()

    def read_stocks(self) -> DataFrame:
        return self.stocks.read()

    def _join_stock_details(self) -> DataFrame:
        df = self.read_stocks()
        for dim, tbl in (("exchange", self.exchanges), ("sector", self.sectors)):
            names = tbl.read().select(F.col("id").alias(f"{dim}_id"),
                                      F.col("name").alias(f"{dim}_name"))
            df = df.join(F.broadcast(names), f"{dim}_id", "left")
        return df

    def _latest_runs(self, only_done: bool) -> DataFrame:
        runs = self.read_runs()
        if only_done:
            runs = runs.filter(F.col("state") == IngestionState.DONE)
        return latest_per_group(runs, ["ticker"], sort_columns(RUN_ORDER))

    def _runs_by_recency(self) -> DataFrame:
        # every row ends on the driver anyway: one task sorts them, with no
        # range-partition sampling job and no shuffle, which halves the
        # rebuild each runs commit causes
        return (self.read_runs()
                .withColumn("is_terminal_flag", is_terminal_col(F.col("state")))
                .coalesce(1)
                .sortWithinPartitions(*sort_columns(RUN_ORDER)))

    def _stock_rows(self, tickers: list[str]
                    ) -> tuple[int | None, dict[str, dict], bool]:
        """The ``stocks`` version read, ticker -> row dict of every stock
        after adding a fresh row for each of ``tickers`` new under
        ``key_of`` (models.py:172-181), and whether any was new. One Arrow
        read on the driver; commits nothing."""
        base, table = self.stocks.read_arrow()
        rows = {r["ticker"]: r for r in table.to_pylist()}
        new = sorted({key_of(t) for t in tickers} - rows.keys())
        ts = _now()
        for t in new:
            rows[t] = {**dict.fromkeys(STOCKS.names), "id": str(uuid.uuid4()),
                       "ticker": t, "created_at": ts, "updated_at": ts}
        return base, rows, bool(new)

    def get_or_create_stocks(self, tickers: list[str]) -> dict[str, str]:
        """M1 for stocks: ticker -> id of every stock, after adding each of
        ``tickers`` new. Commits only when a ticker is new, at the version
        read; a batch commits through ``_ingest_raw`` instead."""
        base, rows, new = self._stock_rows(tickers)
        if new:
            self.stocks.write_rows(list(rows.values()), base)
        return {t: r["id"] for t, r in rows.items()}

    def get_or_create_dim(self, tbl: ManagedTable, names: list[str],
                          normalize: bool) -> dict[str, str]:
        """M1 for exchanges (normalize=True: stored UPPER+trimmed,
        models.py:61-70) and sectors (normalize=False: case-preserved,
        models.py:83-92), both matched under ``key_of``: ``key_of(name)``
        -> id of every row, after adding each new non-blank name (first
        spelling wins). One Arrow read on the driver; appends only when a
        name is new, at the version read. A commit made since raises, and
        the lookup runs again, as the reference gets again after an
        IntegrityError, so two handles never commit one name twice."""
        def once() -> dict[str, str]:
            base, dims = tbl.read_arrow()
            ids = dict(zip(map(key_of, dims["name"].to_pylist()),
                           dims["id"].to_pylist()))
            new: dict[str, str] = {}
            for n in names:
                if n is not None and n.strip() and key_of(n) not in ids:
                    new.setdefault(key_of(n),
                                   key_of(n) if normalize else n.strip())
            if new:
                ts = _now()
                fresh = [{"id": str(uuid.uuid4()), "name": stored,
                          "created_at": ts, "updated_at": ts}
                         for stored in new.values()]
                tbl.write_rows(fresh, base, head=dims)
                ids.update((k, row["id"]) for k, row in zip(new, fresh))
            return ids

        return with_retry(once, backoff_base=0,
                          retry_on=(ConcurrentModificationError,))

    def _active_run_ids(self, tickers: list[str]) -> dict[str, str]:
        """ticker -> id of an existing non-terminal run — the reference's
        partial-unique-constraint skip/409 path (models.py:386-399,
        stock_ingestion_service.py:268-334) as a batch lookup, read on the
        driver."""
        if not tickers:
            return {}
        _, runs = self.runs.read_arrow(
            ds.field("ticker").isin(tickers)
            & ~ds.field("state").isin(IngestionState.TERMINAL))
        return dict(zip(runs["ticker"].to_pylist(), runs["id"].to_pylist()))

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
        stocks commit once (if anything changed), then the final run rows.
        """
        # M2 batch form: dedupe tickers within the batch (first payload
        # wins) and skip stocks that already have a non-terminal run —
        # mirrors queue_for_fetch's created=False path, preserving the
        # one-active-run-per-stock invariant for the batch path too.
        uniq: dict[str, str] = {}
        for t, payload in docs:
            uniq.setdefault(key_of(t), payload)
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
        gets a run failed with its code. New tickers and the metadata sync
        meet in one set of driver-side stock rows, which commit once after
        the silver merge, and only if something changed; then all runs
        commit in one append, so every committed run's stock resolves."""
        if not tickers and not fetch_errors:
            return {"batch_id": None, "run_ids": [], "failed_run_ids": [],
                    "n_silver_rows": self.silver.num_rows()}
        base, stocks, new_stocks = self._stock_rows(tickers + list(fetch_errors))

        # M2: one new run per ticker (the active-run guard ran in the
        # caller); a fetch error fails its run straight from the queue
        rows = [new_run_row(stocks[t]["id"], t, requested_by=requested_by)
                for t in tickers]
        failed_rows = [new_run_row(stocks[t]["id"], t, requested_by=requested_by)
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
            # rebalanced like a table write: a small batch lands in one file
            raw = (raw_src.join(F.broadcast(rid_map), "ticker")
                   .select("ticker", "run_id", "json_str").hint("rebalance"))
            raw.write.mode("overwrite").parquet(bronze_path)
            advance(rows, IngestionState.FETCHED, raw_data_uri=bronze_path)
            advance(rows, IngestionState.QUEUED_FOR_DELTA)

            # silver transform + merge (S3/S4/F8-F10/S5/S6)
            advance(rows, IngestionState.DELTA_RUNNING)
            bronze = self.spark.read.schema(BRONZE).parquet(bronze_path)
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

        # M4: metadata sync into the stocks rows, then their one commit, at
        # the version they were read at: a stocks commit made since raises
        if self.sync_stock_metadata([r["ticker"] for r in ok], stocks) or new_stocks:
            self.stocks.write_rows(list(stocks.values()), base)
        self.runs.append(rows + failed_rows)
        if self.on_run_failed is not None:
            for r in bad + failed_rows:
                self.on_run_failed(r["id"], r["ticker"], r["error_code"],
                                   r["error_message"])
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
        norm = list(dict.fromkeys(key_of(t) for t in tickers))
        tick_df = self.spark.createDataFrame([(t,) for t in norm],
                                             "ticker string")
        # persisted: the status collect and the bronze landing both read
        # it, and the fetch must not re-run (side-effecting transport);
        # released however the batch ends
        fetched = fetch_tickers(tick_df, transport).persist()
        try:
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
        finally:
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
        JSON (the reference's 502-corrupt-object path). No Spark job: the
        run comes from the driver-held ``latest_done_runs`` view, and its
        document from one pyarrow read of its bronze dir on the driver,
        filtered to the run's id and ticker (the reference's one S3 GET)."""
        import json as _json

        t = key_of(ticker)
        latest = (self.latest_done_runs.read().filter(F.col("ticker") == t)
                  .select("id", "raw_data_uri").collect())
        if not latest:
            return None
        run = latest[0]
        raw = pq.read_table(run["raw_data_uri"], columns=["json_str"],
                            filters=[("run_id", "==", run["id"]),
                                     ("ticker", "==", t)])
        if not raw.num_rows:
            return None
        payload = raw.column("json_str")[0].as_py()
        try:
            _json.loads(payload)
        except (ValueError, TypeError) as exc:
            raise ValueError(f"stored raw document for {t} is not valid JSON") from exc
        return payload

    # -- metadata sync (M4) -------------------------------------------------
    def sync_stock_metadata(self, tickers: list[str],
                            stocks: dict[str, dict]) -> bool:
        """S7 pushdown read of ``tickers``' metadata rows, applied to the
        ``stocks`` rows (ticker -> row dict) in place with the changed
        fields only, exchange/sector names resolved to ids through the dim
        get-or-create maps (update_stock_metadata.py:195-469). Returns
        whether any row changed; the caller commits."""
        if not tickers or not self.silver.exists():
            return False
        silver = self.silver.read()
        meta_cols = [c for c in STOCK_METADATA_FIELDS if c in silver.columns]
        if not meta_cols:
            return False
        # one collect of batch-sized rows: both predicates and the
        # projection are pushed into the one scan (a subdir holds one
        # record_type, files are clustered by ticker)
        rows = (silver.filter((F.col("record_type") == "metadata")
                              & F.col("ticker").isin(tickers))
                .select("ticker", *[F.col(c).cast("string").alias(c)
                                    for c in meta_cols]).collect())
        # W3: one metadata row per ticker, deterministic pick: the first
        # under ascending meta_cols, nulls first (Spark's default order)
        meta: dict = {}
        for r in sorted(rows, key=lambda r: [(v is not None, v or "")
                                             for v in r]):
            meta.setdefault(r["ticker"], r.asDict())
        for c, tbl in (("exchange", self.exchanges), ("sector", self.sectors)):
            if c in meta_cols:
                ids = self.get_or_create_dim(tbl, [r[c] for r in meta.values()],
                                             normalize=c == "exchange")
                for r in meta.values():  # a blank or null name maps to None
                    r[f"{c}_id"] = ids.get(key_of(r.pop(c) or ""))

        # Changed-fields-only overlay: a NULL metadata field never clobbers
        # an existing value (the reference drops null fields from the update
        # dict, update_stock_metadata.py:256-271), and updated_at moves only
        # when something actually changed (no spurious cache invalidation,
        # :292-469).
        ts, changed = _now(), False
        for t, m in meta.items():
            row = stocks[t]
            new = {c: v for c, v in m.items()
                   if c != "ticker" and v is not None and v != row[c]}
            if new:
                row.update(new, updated_at=ts)
                changed = True
        return changed
