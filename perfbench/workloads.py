"""The four workloads: set-up, measured loop and output checks.

Each workload is a class with ``setup(spark)`` (untimed by the loop, timed
as ``setup_s``), ``measure(seconds)`` (the closed loop) and ``check()``
(post-run checks of the lake's final state). Every operation and every
check counts in ``attempted``; a wrong output counts in ``failed``.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import math
import os
import threading
import time
from collections import defaultdict

from pyspark.sql import functions as F

from . import gen
from .metrics import CATALOG_QUERIES, pct

BASE_TICKERS = 300      # lake built during set-up
BULK_BATCH = 200        # ingest_bulk batch size
GOLD_TTL_S = 300.0  # the reference's stats-cache TTL
LAKE_TABLES = ("stocks", "exchanges", "sectors", "ingestion_runs",
               "stocks_unified")


class Ops:
    """Latencies per operation type plus attempted/failed counters."""

    def __init__(self) -> None:
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def add(self, kind: str, seconds: float | None, ok: bool, why: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if seconds is not None:
                self.lat[kind].append(seconds)
            if not ok:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(f"{kind}: {why}")


class _Untimed:
    """An Ops view that counts and checks but drops latencies."""

    def __init__(self, ops: Ops) -> None:
        self.ops = ops

    def add(self, kind: str, seconds, ok: bool, why: str = "") -> None:
        self.ops.add(kind, None, ok, why)


def dir_stats(path: str) -> tuple[int, int, int]:
    """(bytes, data files, manifests) under ``path``."""
    size = files = manifests = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            if n.endswith(".parquet"):
                files += 1
            elif os.path.basename(d) == "manifests":
                manifests += 1
    return size, files, manifests


# -- ingest helpers ---------------------------------------------------------

class LakeModel:
    """The lake plus what the generator says its runs and silver must be."""

    def __init__(self, spark, seed: int, root: str, pool: list[str]) -> None:
        from stock_data_etl_pipeline_spark.plans.pipeline import StockLake
        self.lake = StockLake(spark, root)
        self.plan = gen.IngestPlan(seed, pool)
        self.expect_run: dict[str, tuple[int, str]] = {}  # run -> (batch, outcome)
        self.batch_ok: dict[int, bool] = {}
        self.input_bytes = 0
        self.n_batches = 0

    def fetch_batch(self, batch) -> tuple[int, bool, str]:
        """``fetch_and_ingest`` one generated batch; returns (tickers,
        return-value ok, why)."""
        b = self.n_batches
        self.n_batches += 1
        resp = dict(batch)
        tickers = [t for t, _ in batch]
        out = self.lake.fetch_and_ingest(tickers, gen.FakeTransport(resp))
        self.input_bytes += sum(len(r.body.encode()) for r in resp.values())
        fetched = [t for t in tickers if resp[t].doc is not None]
        want_failed = {t: resp[t].expect for t in tickers if resp[t].doc is None}
        ok = (out["failed"] == want_failed and not out["skipped"]
              and len(out["run_ids"]) == len(fetched)
              and len(out["failed_run_ids"]) == len(want_failed))
        for t, rid in zip(fetched, out["run_ids"]):
            self.expect_run[rid] = (b, resp[t].expect)
        for t, rid in zip([t for t in tickers if t in want_failed],
                          out["failed_run_ids"]):
            self.expect_run[rid] = (b, resp[t].expect)
        self.plan.record(batch)
        self.batch_ok[b] = ok
        return len(tickers), ok, "" if ok else f"fetch_and_ingest returned {out}"

    def doc_batch(self, batch) -> tuple[int, bool, str]:
        """``ingest_batch`` of in-memory payloads."""
        b = self.n_batches
        self.n_batches += 1
        docs = [(t, r.body) for t, r in batch]
        out = self.lake.ingest_batch(docs)
        self.input_bytes += sum(len(body.encode()) for _, body in docs)
        ok = not out["skipped"] and len(out["run_ids"]) == len(batch)
        for (t, r), rid in zip(batch, out["run_ids"]):
            self.expect_run[rid] = (b, r.expect)
        self.plan.record(batch)
        self.batch_ok[b] = ok
        return len(batch), ok, "" if ok else f"ingest_batch returned {out}"

    def check_runs(self) -> set[int]:
        """Batches with a run whose final state or error code is wrong."""
        rows = {r["id"]: r for r in self.lake.read_runs()
                .select("id", "state", "error_code").collect()}
        bad = {b for b, ok in self.batch_ok.items() if not ok}
        for rid, (b, outcome) in self.expect_run.items():
            r = rows.get(rid)
            want = ("DONE", None) if outcome == "DONE" else ("FAILED", outcome)
            if r is None or (r["state"], r["error_code"]) != want:
                bad.add(b)
        return bad

    def check_silver(self) -> tuple[bool, str]:
        rows = [tuple(r) for r in self.lake.silver.read()
                .select("ticker", "record_type", "period_end_date").collect()]
        got = set(rows)
        ok = len(rows) == len(got) and got == self.plan.silver_keys
        return ok, "" if ok else (f"silver rows={len(rows)} distinct={len(got)} "
                                  f"expected={len(self.plan.silver_keys)}")


def lake_check(model: LakeModel, ops: Ops) -> None:
    bad = model.check_runs()
    for b in sorted(model.batch_ok):
        ops.add("batch_final_state", None, b not in bad, f"batch {b}")
    ok, why = model.check_silver()
    ops.add("silver_keys", None, ok, why)


# -- the read mix -----------------------------------------------------------

class ReadMix:
    """Executes the control-plane request mix. Every answer is checked
    against the generator's model and a snapshot of the runs table taken at
    the end of set-up; requests only ask about set-up-era rows."""

    def __init__(self, model: LakeModel, gold, bulk: dict, tracer_ref) -> None:
        from stock_data_etl_pipeline_spark.operators.pagination import DEFAULT_PAGE_SIZE
        from stock_data_etl_pipeline_spark.plans import queries
        self.Q = queries
        self.page_size = DEFAULT_PAGE_SIZE
        self.lake = model.lake
        self.gold = gold
        self.bulk = bulk
        self.tracer_ref = tracer_ref  # callable -> Tracer | None
        self.seed = model.plan.seed
        runs = self.lake.read_runs().select("id", "ticker", "state",
                                            "created_at").collect()
        self.runs = [r.asDict() for r in runs]
        self.cutoff = max(r["created_at"] for r in self.runs)
        self.latest = {}
        for r in sorted(self.runs, key=lambda r: (r["created_at"], r["id"])):
            self.latest[r["ticker"]] = r["id"]
        self.silver_keys = set(model.plan.silver_keys)
        self.done_doc = dict(model.plan.done_doc)
        self.tickers = sorted(model.plan.versions)
        self.pages_walked = 0

    def _span(self, name: str):
        t = self.tracer_ref()
        return t.span(name, "request") if t is not None else contextlib.nullcontext()

    def _collect(self, df, fn_name: str):
        with self._span(f"exec.{fn_name}"):
            return df.collect()

    def run(self, kind: str, p: dict, ops: Ops, timed: bool = True) -> None:
        """Serve one request; ``timed=False`` (warm-up) checks the answer
        but records no latency."""
        getattr(self, "_" + kind)(p, ops if timed else _Untimed(ops))

    def _list_runs(self, p, ops: Ops) -> None:
        """One keyset walk, timed and checked as one request: every page
        must be the next slice of the expected rows."""
        f = dict(p["filters"], created_at__lte=self.cutoff)
        want = [r for r in self.runs
                if f.get("ticker__gte", r["ticker"]) <= r["ticker"]
                <= f.get("ticker__lte", r["ticker"])
                and ("state" not in f or r["state"] == f["state"])
                and ("is_terminal" not in f
                     or (r["state"] in ("DONE", "FAILED")) == f["is_terminal"])]
        want.sort(key=lambda r: (r["created_at"], r["id"]), reverse=True)
        size, cursor, bad = self.page_size, None, []
        t0 = time.perf_counter()
        with self._span("request.list_runs"):
            for page in range(p["max_pages"]):
                rows = self._collect(self.Q.list_runs(self.lake, f, cursor=cursor),
                                     "list_runs")
                self.pages_walked += 1
                exp = [r["id"] for r in want[page * size:(page + 1) * size]]
                if [r["id"] for r in rows] != exp:
                    bad.append(page)
                if len(rows) < size:
                    break
                cursor = [rows[-1]["created_at"], rows[-1]["id"]]
        ops.add("list_runs", time.perf_counter() - t0, not bad,
                f"{f}: pages {bad} differ from the expected slices")

    def _stock_detail(self, p, ops: Ops) -> None:
        t = p["ticker"]
        t0 = time.perf_counter()
        with self._span("request.stock_detail"):
            rows = self._collect(self.Q.stock_detail(self.lake, t), "stock_detail")
        dt = time.perf_counter() - t0
        prof = gen.profile(self.seed, t)
        has_meta = t in self.done_doc
        want = ((prof["exchange"], prof["sector"]) if has_meta else (None, None))
        got = (rows[0]["exchange_name"], rows[0]["sector_name"]) if len(rows) == 1 else None
        ops.add("stock_detail", dt, got == want, f"{t}: {got} != {want}")

    def _latest_run(self, p, ops: Ops) -> None:
        t = p["ticker"]
        t0 = time.perf_counter()
        with self._span("request.latest_run"):
            rows = self._collect(self.Q.latest_run_for_stock(self.lake, t),
                                 "latest_run_for_stock")
        dt = time.perf_counter() - t0
        got = [r["id"] for r in rows]
        ops.add("latest_run", dt, got == [self.latest[t]], f"{t}: {got}")

    def _silver_range(self, p, ops: Ops) -> None:
        t0 = time.perf_counter()
        with self._span("request.silver_range"):
            df = (self.lake.silver.read_where("ticker", p["lo"], p["hi"])
                  .filter(F.col("period_end_date").between(p["p_lo"], p["p_hi"]))
                  .select("ticker", "record_type", "period_end_date"))
            rows = self._collect(df, "read_where")
        dt = time.perf_counter() - t0
        got = sorted(tuple(r) for r in rows)
        want = sorted(k for k in self.silver_keys
                      if p["lo"] <= k[0] <= p["hi"] and k[2] is not None
                      and p["p_lo"] <= k[2] <= p["p_hi"])
        ops.add("silver_range", dt, got == want, f"{p}: {len(got)} != {len(want)}")

    def _bulk_stats(self, p, ops: Ops) -> None:
        t0 = time.perf_counter()
        with self._span("request.bulk_stats"):
            rows = self._collect(self.gold.get("bulk_stats"), "bulk_run_stats")
        dt = time.perf_counter() - t0
        counts = {r["state"]: r["count"] for r in rows}
        q = self.bulk["queued_count"]
        ok = (len(counts) == 8 and sum(counts.values()) == q
              and counts.get("QUEUED_FOR_FETCH") == q)
        ops.add("bulk_stats", dt, ok, f"{counts} vs queued {q}")

    def _raw_json(self, p, ops: Ops) -> None:
        t = p["ticker"]
        t0 = time.perf_counter()
        with self._span("request.raw_json"):
            got = self.lake.read_raw_json(t)
        dt = time.perf_counter() - t0
        ops.add("raw_json", dt, got == self.done_doc.get(t), t)

    def loop(self, ops: Ops, deadline: float, seed_tag: str,
             stop: threading.Event | None = None) -> None:
        stream = gen.read_requests(f"{self.seed}/{seed_tag}", self.tickers)
        i = 0
        while time.perf_counter() < deadline and not (stop and stop.is_set()):
            kind, params = next(stream)
            t = self.tracer_ref()
            if t is not None:
                with t.request(f"r{i}"):
                    self.run(kind, params, ops)
            else:
                self.run(kind, params, ops)
            i += 1


def _cpu(n_ops: int, cpu_s: float) -> dict:
    """The CPU the measured window used per timed operation."""
    return {"cpu_ms_per_op": cpu_s * 1e3 / n_ops}


# -- workloads --------------------------------------------------------------

class Workload:
    name = ""
    trace_setup = False  # a traced run also traces set-up

    def __init__(self, seed: int, work: str, traced: bool = False) -> None:
        self.seed, self.work, self.traced = seed, work, traced
        self.ops = Ops()
        self.tracer = None
        self.tickers: list[int] = []
        # (bytes, files, manifests) each traced batch added to the lake
        self.walks: list[tuple[int, ...]] = []

    def check(self) -> None:
        """Post-run checks; by default every operation was checked as it
        returned."""

    def _walked(self, run_batch, batch) -> tuple[int, bool, str]:
        """Run one batch and record what it added to the lake (traced runs
        only: the walk costs time)."""
        root = self.model.lake.root
        before = dir_stats(root)
        res = run_batch(batch)
        self.walks.append(tuple(a - b for a, b in zip(dir_stats(root), before)))
        return res

    def _ingest(self, run_batch, batch) -> None:
        """Time one ingest batch of the measured loop."""
        t0 = time.perf_counter()
        n, ok, why = (self._walked(run_batch, batch) if self.traced
                      else run_batch(batch))
        dt = time.perf_counter() - t0
        self.ops.add("ingest_batch", dt, ok, why)
        self.tickers.append(n)

    def _setup_lake(self, spark) -> None:
        """The set-up lake: one large fetch batch over fresh tickers. Its
        fetch-error and invalid-payload mix leaves FAILED runs beside the
        DONE ones, and it is the JIT and codegen warm-up of the whole ingest
        path."""
        self.model = LakeModel(spark, self.seed, os.path.join(self.work, "lake"),
                               gen.universe(self.seed, 8000))
        batch = self.model.plan.next_batch(0, BASE_TICKERS, reingest=False)
        run = self.model.fetch_batch
        _, ok, why = (self._walked(run, batch) if self.traced and self.trace_setup
                      else run(batch))
        self.ops.add("setup_batch", None, ok, why)


class IngestBulk(Workload):
    """Closed loop, one client: large ``fetch_and_ingest`` batches through
    the fake transport; the lake grows across the run."""

    name = "ingest_bulk"

    def setup(self, spark) -> None:
        self._setup_lake(spark)

    def measure(self, seconds: float) -> float:
        t_start = time.perf_counter()
        i = 1
        while True:
            self._ingest(self.model.fetch_batch,
                         self.model.plan.next_batch(i, BULK_BATCH))
            i += 1
            if time.perf_counter() - t_start >= seconds:
                return time.perf_counter() - t_start

    def check(self) -> None:
        lake_check(self.model, self.ops)

    def e2e(self, cpu_s: float) -> dict:
        return _cpu(len(self.ops.lat["ingest_batch"]), cpu_s)


class _ReadsBase(Workload):
    def _setup_reads(self, spark) -> None:
        from stock_data_etl_pipeline_spark.plans import bulk
        from stock_data_etl_pipeline_spark.plans.gold import DEFAULT_DEPENDENCIES, GoldViews
        self._setup_lake(spark)
        # one bulk run queues every stock again: each stock then has a
        # terminal run and an in-progress one
        self.bulk = bulk.queue_all_stocks(self.model.lake, requested_by="bench")
        lake = self.model.lake
        bulk_id = self.bulk["bulk_queue_run_id"]
        self.gold = GoldViews({**DEFAULT_DEPENDENCIES,
                               "ingestion_runs": {"run_views"}})
        self.gold.register("bulk_stats", lambda: bulk.bulk_run_stats(lake, bulk_id),
                           {"run_views"}, ttl_seconds=GOLD_TTL_S)
        self.reads = ReadMix(self.model, self.gold, self.bulk, lambda: self.tracer)
        # warm every request type once (first-call planning and codegen)
        stream = gen.read_requests(f"{self.seed}/warm", self.reads.tickers)
        seen: set[str] = set()
        while len(seen) < len(gen.READ_TYPES):
            kind, params = next(stream)
            if kind not in seen:
                self.reads.run(kind, params, self.ops, timed=False)
                seen.add(kind)
        self.builds0 = self.gold.build_count("bulk_stats")

    def check(self) -> None:
        # the bulk run's queued runs are not in the model, and silver only
        # changes through the modelled batches
        lake_check(self.model, self.ops)

    def e2e(self, cpu_s: float) -> dict:
        return _cpu(sum(len(self.ops.lat[k]) for k in gen.READ_TYPES), cpu_s)


class ApiReads(_ReadsBase):
    """Closed loop, one client: the control-plane request mix over a lake
    built during set-up. Nothing is written while it runs."""

    name = "api_reads"
    # its set-up fetch_and_ingest batch is how this workload measures the
    # ingest layers
    trace_setup = True

    def setup(self, spark) -> None:
        self._setup_reads(spark)

    def measure(self, seconds: float) -> float:
        t0 = time.perf_counter()
        self.reads.loop(self.ops, t0 + seconds, "measure")
        self.read_wall = time.perf_counter() - t0
        return self.read_wall


class InteractiveMixed(_ReadsBase):
    """One writer thread posting small ``ingest_batch`` calls back to back
    while one reader thread runs the api_reads mix; every commit notifies
    the gold views."""

    name = "interactive_mixed"

    def setup(self, spark) -> None:
        self._setup_reads(spark)
        # writer tickers sort after the set-up universe, so set-up-era
        # answers the reader checks stay fixed while the lake grows
        self.model.plan.pool = gen.universe(self.seed, 4000, prefix="Z")
        self.model.plan.next_new = 0

    def measure(self, seconds: float) -> float:
        """The writer starts batches until ``seconds`` have passed; the
        reader runs until the writer's last batch has committed."""
        t_start = time.perf_counter()
        writer_done = threading.Event()
        err: list[Exception] = []

        def writer():
            rng = gen._rng("writer", self.seed)
            i = 0
            try:
                while time.perf_counter() - t_start < seconds:
                    self._ingest(self.model.doc_batch, gen.doc_batch(
                        self.model.plan, i, rng.randint(1, 5)))
                    for tbl in LAKE_TABLES:
                        self.gold.notify_write(tbl)
                    i += 1
            except Exception as e:  # noqa: BLE001 — reported as a failed op
                err.append(e)
            finally:
                writer_done.set()

        def reader():
            try:
                self.reads.loop(self.ops, math.inf, "measure", writer_done)
            except Exception as e:  # noqa: BLE001 — reported as a failed op
                err.append(e)
            self.read_wall = time.perf_counter() - t_start

        threads = [threading.Thread(target=writer), threading.Thread(target=reader)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        for e in err:
            self.ops.add("thread", None, False, repr(e))
        return time.perf_counter() - t_start


# -- catalog ----------------------------------------------------------------

def _canon(v) -> str:
    import datetime
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted,
    floats at 6 dp."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    h.update("\x1f".join(sorted(cols)).encode())
    for line in lines:
        h.update(line.encode() + b"\n")
    return h.hexdigest()


class CatalogAnalytics(Workload):
    """The ten fixed catalog queries on seeded tables, run one after another
    in a fixed cycle; each result is hash-checked against its DuckDB
    oracle. Its unit of work is one pass over the ten."""

    name = "catalog_analytics"

    def __init__(self, seed: int, work: str, traced: bool = False) -> None:
        super().__init__(seed, work, traced)
        self.jobs: dict[str, list[int]] = defaultdict(list)

    def setup(self, spark) -> None:
        from concurrent.futures import ThreadPoolExecutor

        from stock_data_etl_pipeline_spark.plans import catalog
        self.spark = spark
        every = catalog.queries()
        self.queries = {q: every[q] for q in CATALOG_QUERIES}
        self.dir = os.path.join(self.work, "catalog")
        gen.write_catalog_tables(self.seed, self.dir)
        # the DuckDB oracles run beside the Spark warm-up pass
        with ThreadPoolExecutor(1) as pool:
            oracles = pool.submit(self._oracles, self.dir)
            for q in self.queries:
                self._query(q, None)
            self.expect = oracles.result()

    @staticmethod
    def _oracles(sf_dir: str) -> dict[str, str]:
        import duckdb

        from stock_data_etl_pipeline_spark.plans import catalog
        sql = catalog.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for f in os.listdir(sf_dir):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
        out = {}
        for q in CATALOG_QUERIES:
            res = con.execute(sql[q])
            out[q] = result_hash([d[0] for d in res.description],
                                 [tuple(r) for r in res.fetchall()])
        con.close()
        return out

    def _query(self, q: str, ops: Ops | None) -> None:
        """Run one query; with ``ops`` (the measured window) time it and
        check its hash."""
        fn = self.queries[q]
        t0 = time.perf_counter()
        tr = self.tracer
        if tr is not None:
            with tr.span(f"request.{q}", "request") as s:
                df = fn(self.spark, self.dir)
                rows = [tuple(r) for r in df.collect()]
            self.jobs[q].append(s.incl_jobs)
        else:
            df = fn(self.spark, self.dir)
            rows = [tuple(r) for r in df.collect()]
        dt = time.perf_counter() - t0
        if ops is not None:
            ok = result_hash(df.columns, rows) == self.expect[q]
            ops.add(q, dt, ok, f"{q} hash differs from oracle")

    def measure(self, seconds: float) -> float:
        """Cycle through the queries in their fixed order until ``seconds``
        have passed and every query has run at least once."""
        t_start = time.perf_counter()
        n = len(CATALOG_QUERIES)
        for i in itertools.count():
            if i >= n and time.perf_counter() - t_start >= seconds:
                break
            self._query(CATALOG_QUERIES[i % n], self.ops)
        return time.perf_counter() - t_start

    def pass_medians(self) -> dict[str, float]:
        """Each query's median time in the window. A window may end
        part-way through a cycle, so pass figures weigh every query once,
        not by how often it ran."""
        return {q: pct(self.ops.lat[q], 50) for q in CATALOG_QUERIES}

    def e2e(self, cpu_s: float) -> dict:
        return _cpu(sum(len(self.ops.lat[q]) for q in CATALOG_QUERIES), cpu_s)


WORKLOADS = {w.name: w for w in (IngestBulk, ApiReads, InteractiveMixed,
                                 CatalogAnalytics)}

