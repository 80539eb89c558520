"""S1: parallel HTTP fetch of per-ticker documents.

Reference: services/workers/tasks/queue_for_fetch.py:310-405 — GET
``{base_url}/{ticker}``, timeout, status-code triage (401/404/429/4xx/5xx),
JSON validation, empty-response check; Celery gives it 2-worker
parallelism. Spark-native restatement: the ticker list is a DataFrame and
the fetch runs as an Arrow-batched ``mapInPandas`` over its partitions —
executor-side parallel pulls with the error taxonomy carried per row
instead of per-task exceptions, so one bad ticker never kills a batch.

The HTTP transport is injectable (and `requests` import-gated) so tests
and air-gapped runs use a fake; the taxonomy is the contract:

    ok          payload is valid non-empty JSON
    AUTH_ERROR  401/403         NOT_FOUND    404
    RATE_LIMITED 429            CLIENT_ERROR other 4xx
    SERVER_ERROR 5xx            INVALID_JSON parse failure
    EMPTY_RESPONSE empty body   CONNECTION_ERROR transport raised
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

FETCH_RESULT_SCHEMA = T.StructType([
    T.StructField("ticker", T.StringType(), False),
    T.StructField("status_code", T.IntegerType(), True),
    T.StructField("error_code", T.StringType(), True),  # None == ok
    T.StructField("json_str", T.StringType(), True),
])

# (status_code, body) -> transport contract; exceptions => CONNECTION_ERROR
Transport = Callable[[str], tuple[int, str]]


def http_transport(base_url: str, timeout: float = 300.0,
                   api_key: str | None = None) -> Transport:
    """Real transport over `requests` (import-gated; reference timeout
    default STOCK_DATA_API_TIMEOUT=300s, settings.py:295)."""
    import requests  # noqa: PLC0415 — gated: absent in some environments

    def call(ticker: str) -> tuple[int, str]:
        params = {"apiKey": api_key} if api_key else None
        r = requests.get(f"{base_url.rstrip('/')}/{ticker}",
                         params=params, timeout=timeout)
        return r.status_code, r.text

    return call


def classify(status_code: int | None, body: str | None) -> str | None:
    if status_code is None:
        return "CONNECTION_ERROR"
    if status_code in (401, 403):
        return "AUTH_ERROR"
    if status_code == 404:
        return "NOT_FOUND"
    if status_code == 429:
        return "RATE_LIMITED"
    if 400 <= status_code < 500:
        return "CLIENT_ERROR"
    if status_code >= 500:
        return "SERVER_ERROR"
    if body is None or not body.strip():
        return "EMPTY_RESPONSE"
    try:
        doc = json.loads(body)
    except (ValueError, TypeError):
        return "INVALID_JSON"
    if not isinstance(doc, dict) or not doc:
        return "INVALID_JSON"
    return None


def fetch_tickers(tickers: DataFrame, transport: Transport) -> DataFrame:
    """Fetch one document per ``ticker`` of ``tickers``, executor-side,
    Arrow-batched. Output: FETCH_RESULT_SCHEMA; error_code NULL on success.

    Scale: repartition the ticker list to bound per-executor concurrency
    (the reference caps fetch workers at 2; here partition count is the
    knob) — `tickers.repartition(n)` before calling.
    """
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"ticker": [], "status_code": [], "error_code": [],
                   "json_str": []}
            for t in pdf["ticker"]:
                code: int | None
                try:
                    code, body = transport(t)
                except Exception:  # noqa: BLE001 — transport failures are rows
                    code, body = None, None
                err = classify(code, body)
                out["ticker"].append(t)
                out["status_code"].append(code)
                out["error_code"].append(err)
                out["json_str"].append(body if err is None else None)
            yield pd.DataFrame(out)

    return tickers.select("ticker").mapInPandas(op, FETCH_RESULT_SCHEMA)
