"""Seeded inputs for every workload.

Everything here is a pure function of ``seed`` (and of the batch or
request index): the ticker universe, every raw stock document and its
re-ingest versions, the fetch-error mix an in-process fake transport
serves, the read-request stream and the catalog tables. The pipeline under
test only ever sees the generated payloads, never the seed.

Raw documents cover every variation of the bronze input (FIXTURES.md §1):
ragged quarterly arrays, null-string sentinels, mixed int/decimal values,
an all-null metric column, TTM with no quarterly periods, payloads with no
``data`` key and the excluded ``roic_5yr_avg`` metric.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
from dataclasses import dataclass, field

SECTORS = ["Information Technology", "Energy", "Health Care", "Financials",
           "Utilities", "Industrials", "Materials", "Real Estate"]
EXCHANGES = ["NASDAQ", "NYSE", "AMEX", "LSE", "TSX"]
COUNTRIES = ["US", "CA", "GB", "DE", "JP"]
SENTINELS = ["N/A", " na ", "NULL", "None", "-"]
Q_METRICS = ["revenue", "cogs", "gross_profit", "eps", "shares_out"]
TTM_METRICS = ["revenue", "cogs", "gross_profit", "ebitda", "fcf"]
ALL_NULL_METRIC = "other_income"  # never numeric: always a string column
EXCLUDED_METRIC = "roic_5yr_avg"  # present in payloads, never in silver

# (status, body, error code the fetch taxonomy must assign)
FETCH_ERRORS = [
    (404, "Not Found", "NOT_FOUND"),
    (429, "", "RATE_LIMITED"),
    (500, "internal error", "SERVER_ERROR"),
    (503, "", "SERVER_ERROR"),
    (200, "", "EMPTY_RESPONSE"),
    (200, "   ", "EMPTY_RESPONSE"),
    (200, "{not json", "INVALID_JSON"),
]
FETCH_ERROR_CODES = sorted({code for _, _, code in FETCH_ERRORS})
INVALID_FORMAT = "INVALID_DATA_FORMAT"

FETCH_ERROR_RATE = 0.10
INVALID_RATE = 0.05
REINGEST_RATE = 0.20

# The repository holds no traffic data, so the mix is the neutral one:
# every request type equally often, a list_runs walk counting as one
# request, keys Zipf-skewed with the classic exponent 1.
READ_TYPES = ["list_runs", "stock_detail", "latest_run", "silver_range",
              "bulk_stats", "raw_json"]
ZIPF_S = 1.0
RUN_STATES = ["DONE", "FAILED", "QUEUED_FOR_FETCH"]  # states the read lake holds


def _rng(*parts) -> random.Random:
    return random.Random("/".join(str(p) for p in parts))


# -- tickers ----------------------------------------------------------------

def universe(seed: int, n: int, prefix: str = "") -> list[str]:
    """``n`` distinct upper-case tickers, sorted. Letters A-X only, so a
    ``prefix`` of 'Z' gives a disjoint set that sorts after all of them."""
    rng = _rng("universe", seed, prefix)
    out: set[str] = set()
    while len(out) < n:
        k = rng.choice((3, 4, 4, 5))
        out.add(prefix + "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWX")
                                 for _ in range(k)))
    return sorted(out)


def profile(seed: int, ticker: str) -> dict:
    """Per-ticker dimension values; fixed across re-ingests."""
    rng = _rng("profile", seed, ticker)
    return {"exchange": rng.choice(EXCHANGES), "sector": rng.choice(SECTORS),
            "name": f"{ticker.title()} Holdings", "country": rng.choice(COUNTRIES)}


# -- documents --------------------------------------------------------------

def _quarter(i: int) -> str:
    return f"{2010 + i // 4}-{(i % 4) * 3 + 3:02d}"


def _number(rng: random.Random, metric: str, base: float):
    """Mixed int/decimal JSON numbers: share counts are ints, eps is
    decimal, the money columns mix both."""
    v = base * rng.uniform(0.5, 1.5)
    if metric == "shares_out":
        return int(v)
    if metric == "eps":
        return round(v / 1e9, 2)
    return int(v) if rng.random() < 0.5 else round(v, 2)


@dataclass
class Doc:
    body: str            # exact payload served to the pipeline
    valid: bool          # has a 'data' object
    keys: frozenset      # silver (ticker, record_type, period) keys implied


def make_doc(seed: int, ticker: str, version: int) -> Doc:
    """The ``version``-th document for ``ticker``. A later version keeps the
    same periods and appends one more quarter, so a re-ingest both updates
    rows and inserts a new one."""
    rng = _rng("doc", seed, ticker, version)
    prof = profile(seed, ticker)
    if rng.random() < INVALID_RATE:
        body = json.dumps({"status": "ok", "result": {"symbol": ticker}})
        return Doc(body, False, frozenset())

    start = _rng("start", seed, ticker).randint(0, 40)
    n_q = _rng("nq", seed, ticker).randint(2, 6) + version
    periods = [_quarter(start + i) for i in range(n_q)]
    ttm_only = rng.random() < 0.08
    base = rng.uniform(1e8, 1e11)

    quarterly: dict = {}
    if ttm_only:
        if rng.random() < 0.5:
            quarterly = {"period_end_date": []}
        periods = []
    else:
        quarterly["period_end_date"] = periods
        ragged = set(rng.sample(Q_METRICS, rng.randint(0, 2))) \
            if rng.random() < 0.3 else set()
        sentinel_rate = 0.15 if rng.random() < 0.4 else 0.0
        for m in Q_METRICS:
            n = len(periods) if m not in ragged else rng.randint(1, len(periods))
            vals = [_number(rng, m, base)]  # first value always numeric
            for _ in range(n - 1):
                vals.append(rng.choice(SENTINELS) if rng.random() < sentinel_rate
                            else _number(rng, m, base))
            quarterly[m] = vals
        if rng.random() < 0.3:
            quarterly[ALL_NULL_METRIC] = [rng.choice(SENTINELS + [None])
                                          for _ in periods]
        if rng.random() < 0.5:
            quarterly[EXCLUDED_METRIC] = [round(rng.uniform(-5, 40), 2)
                                          for _ in periods]
    ttm = {"period_end_date": "TTM"}
    for m in TTM_METRICS:
        ttm[m] = _number(rng, m, base * 4)
    if rng.random() < 0.5:
        ttm[EXCLUDED_METRIC] = round(rng.uniform(-5, 40), 2)
    financials = {"ttm": ttm}
    if quarterly or not ttm_only:
        financials["quarterly"] = quarterly
    metadata = {
        # exchange/sector arrive untrimmed and in mixed case; the lake
        # stores the exchange upper-cased and the sector case-preserved
        "exchange": rng.choice(["", " "]) + (prof["exchange"].lower()
                                             if rng.random() < 0.3
                                             else prof["exchange"]),
        "sector": prof["sector"] + rng.choice(["", " "]),
        "name": prof["name"],
        "symbol": ticker,
        "country": rng.choice(SENTINELS) if rng.random() < 0.2 else prof["country"],
        "currency": "USD",
    }
    body = json.dumps({"data": {"financials": financials, "metadata": metadata}})
    keys = {(ticker, "financials", p) for p in periods}
    if periods:
        keys.add((ticker, "ttm", periods[-1]))
    keys.add((ticker, "metadata", None))
    return Doc(body, True, frozenset(keys))


# -- fetch responses and the fake transport ---------------------------------

@dataclass
class Response:
    status: int
    body: str
    expect: str          # 'DONE' or the run's expected error_code
    doc: Doc | None      # the served document when the fetch succeeds


def response(seed: int, ticker: str, version: int) -> Response:
    """What the fake HTTP endpoint returns for this fetch."""
    rng = _rng("fetch", seed, ticker, version)
    if rng.random() < FETCH_ERROR_RATE:
        status, body, code = rng.choice(FETCH_ERRORS)
        return Response(status, body, code, None)
    doc = make_doc(seed, ticker, version)
    return Response(200, doc.body, "DONE" if doc.valid else INVALID_FORMAT, doc)


class FakeTransport:
    """In-process transport: ticker -> (status, body) from a fixed table.
    Pickled by value into the fetch executors."""

    def __init__(self, responses: dict[str, Response]) -> None:
        self.table = {t: (r.status, r.body) for t, r in responses.items()}

    def __call__(self, ticker: str) -> tuple[int, str]:
        return self.table[ticker]


@dataclass
class IngestPlan:
    """Deterministic sequence of ingest batches over a growing universe:
    each batch mixes new tickers with ~20% re-ingests of earlier ones.
    Tracks the outcome every run and the silver key set must reach."""

    seed: int
    pool: list[str]
    versions: dict[str, int] = field(default_factory=dict)
    silver_keys: set = field(default_factory=set)
    done_doc: dict[str, str] = field(default_factory=dict)
    next_new: int = 0

    def next_batch(self, index: int, size: int, reingest: bool = True
                   ) -> list[tuple[str, Response]]:
        rng = _rng("batch", self.seed, index)
        seen = sorted(self.versions)
        n_re = (min(len(seen), round(size * REINGEST_RATE))
                if reingest else 0)
        tickers = rng.sample(seen, n_re) if n_re else []
        while len(tickers) < size:
            if self.next_new >= len(self.pool):
                raise RuntimeError("ticker pool exhausted")
            tickers.append(self.pool[self.next_new])
            self.next_new += 1
        rng.shuffle(tickers)
        out = []
        for t in tickers:
            v = self.versions.get(t, -1) + 1
            self.versions[t] = v
            out.append((t, response(self.seed, t, v)))
        return out

    def record(self, batch: list[tuple[str, Response]]) -> None:
        """Fold a batch's expected effects into the lake model."""
        for t, r in batch:
            if r.expect == "DONE":
                self.silver_keys |= r.doc.keys
                self.done_doc[t] = r.body


def doc_batch(plan: IngestPlan, index: int, size: int
              ) -> list[tuple[str, Response]]:
    """A batch for the in-memory ``ingest_batch`` path: no fetch step, so
    every payload is a document (valid or structurally invalid). At least
    one document is valid, so every batch transforms and merges."""
    rng = _rng("docbatch", plan.seed, index)
    out = []
    for _ in range(size):
        if plan.next_new >= len(plan.pool):
            raise RuntimeError("ticker pool exhausted")
        t = plan.pool[plan.next_new]
        plan.next_new += 1
        plan.versions[t] = 0
        doc = make_doc(plan.seed, t, rng.randint(0, 2))
        out.append((t, doc))
    if not any(d.valid for _, d in out):
        t, v = out[0][0], 3
        while not (doc := make_doc(plan.seed, t, v)).valid:
            v += 1
        out[0] = (t, doc)
    return [(t, Response(200, d.body, "DONE" if d.valid else INVALID_FORMAT, d))
            for t, d in out]


# -- read requests ----------------------------------------------------------

class Zipf:
    """Seeded Zipf(s) sampler over a fixed key list (rank 1 = hottest)."""

    def __init__(self, keys: list, s: float = ZIPF_S) -> None:
        self.keys = list(keys)
        acc, self.cum = 0.0, []
        for i in range(len(self.keys)):
            acc += 1.0 / (i + 1) ** s
            self.cum.append(acc)

    def pick(self, rng: random.Random):
        return self.keys[bisect.bisect_left(self.cum, rng.random() * self.cum[-1])]


def read_requests(seed: int | str, tickers: list[str]):
    """Endless seeded request stream: (type, params) with Zipf-skewed keys
    over a seed-shuffled ticker ranking. Types come in shuffled cycles
    holding each type once, so every run sees the same mix."""
    rng = _rng("reads", seed)
    ordered = sorted(tickers)
    ranking = list(ordered)
    _rng("rank", seed).shuffle(ranking)
    z = Zipf(ranking)
    cycle = list(READ_TYPES)
    while True:
        rng.shuffle(cycle)
        for kind in cycle:
            yield _request(rng, kind, z.pick(rng), ordered)


def _request(rng: random.Random, kind: str, t: str, ordered: list[str]
             ) -> tuple[str, dict]:
    j = bisect.bisect_left(ordered, t)
    if kind == "list_runs":
        # runs of the stocks from ``t`` towards the far end of the ticker
        # range, so the walk always spans at least half the stocks; with no
        # further filter, a state or the virtual is_terminal flag; walked 2
        # or 3 pages at the endpoint's default page size
        f = {"ticker__gte": t} if j < len(ordered) / 2 else {"ticker__lte": t}
        shape = rng.choice(("none", "state", "is_terminal"))
        if shape == "state":
            f["state"] = rng.choice(RUN_STATES)
        elif shape == "is_terminal":
            f["is_terminal"] = rng.random() < 0.5
        return kind, {"filters": f, "max_pages": rng.choice((2, 3))}
    if kind == "silver_range":
        return kind, {"lo": ordered[max(0, j - rng.randint(0, 3))], "hi": t,
                      "p_lo": _quarter(rng.randint(0, 30)),
                      "p_hi": _quarter(rng.randint(30, 60))}
    return kind, {"ticker": t}


# -- catalog tables ---------------------------------------------------------

WORDS = ("key agg row scan slow fast table value part hash merge batch "
         "spark a the line sort window data column join small customer "
         "query order group stream filter big vector").split()


def write_catalog_tables(seed: int, out_dir: str, n_customers: int = 600,
                         n_orders: int = 6000, n_lineitems: int = 24000,
                         n_events: int = 8000, n_docs: int = 300) -> int:
    """The TPC-H-shaped star schema plus events and documents, as one
    parquet file per table. Returns total bytes written."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    r2 = lambda a: np.round(a, 2)  # noqa: E731
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array(g.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": r2(g.uniform(-999, 9999, n_customers)),
        "c_mktsegment": segs[g.integers(0, 5, n_customers)]})
    day0 = np.datetime64("1995-01-01")
    odates = day0 + g.integers(0, 2400, n_orders).astype("timedelta64[D]")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_customers, n_orders), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[g.integers(0, 3, n_orders)],
        "o_totalprice": r2(g.uniform(1000, 500000, n_orders)),
        "o_orderdate": pa.array(odates.astype("datetime64[us]")),
        "o_orderpriority": prios[g.integers(0, 5, n_orders)]})
    lok = g.integers(0, n_orders, n_lineitems)
    ship = odates[lok] + g.integers(1, 120, n_lineitems).astype("timedelta64[D]")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(g.integers(0, 2000, n_lineitems), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, 100, n_lineitems), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_lineitems), pa.int32()),
        "l_quantity": g.integers(1, 51, n_lineitems).astype(float),
        "l_extendedprice": r2(g.uniform(900, 105000, n_lineitems)),
        "l_discount": np.round(g.integers(0, 11, n_lineitems) / 100, 2),
        "l_tax": np.round(g.integers(0, 9, n_lineitems) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_lineitems)],
        "l_linestatus": np.array(["O", "F"])[g.integers(0, 2, n_lineitems)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))})
    # distinct, increasing microsecond timestamps over 30 days: no ties
    # for the (ts, event_id) tie-breaks
    span_us = 30 * 86400 * 10**6
    ts_us = np.sort(g.choice(span_us, n_events, replace=False))
    ts = np.datetime64(dt.datetime(2024, 1, 1), "us") + ts_us.astype("timedelta64[us]")
    etypes = np.array(["click", "signup", "error", "view", "purchase"])
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(g.integers(0, 150, n_events), pa.int64()),
        "event_type": etypes[g.integers(0, 5, n_events)],
        "value": r2(g.uniform(0.01, 490, n_events)),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_events)]})
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i > 0 and g.random() < 0.15:  # near-duplicates for the LSH pass
            src = texts[int(g.integers(0, i))].split()
            j = int(g.integers(0, len(src)))
            src[j] = str(words[g.integers(0, len(words))])
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[g.integers(0, len(words),
                                                   int(g.integers(20, 80)))]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[g.integers(0, 5, n_docs)],
        "source": [f"src{k}" for k in g.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    total = 0
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total


def digest(seed: int, n_batches: int = 3, batch_size: int = 40) -> str:
    """Hash of a run's generated inputs (documents, fetch responses, read
    stream): equal seeds must give equal digests."""
    h = hashlib.sha256()
    plan = IngestPlan(seed, universe(seed, 400))
    for i in range(n_batches):
        for t, r in plan.next_batch(i, batch_size):
            h.update(f"{t}\x1f{r.status}\x1f{r.expect}\x1f{r.body}\n".encode())
    reads = read_requests(seed, plan.pool[:100])
    for _ in range(200):
        h.update(json.dumps(next(reads), sort_keys=True).encode())
    return h.hexdigest()
