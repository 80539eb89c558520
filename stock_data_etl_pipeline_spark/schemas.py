"""Explicit schemas: control plane, silver lake key columns, raw JSON.

Control-plane entities mirror the reference's ORM models
(/root/reference/services/api/models.py): UUIDs -> string, timestamptz ->
timestamp, counters -> long. The silver table's fixed part is the composite
key (ticker, record_type, period_end_date) — every other column is a
dynamic metric/metadata column typed double-or-string by the transform
(queue_for_delta.py:12-19,607-641).
"""

from __future__ import annotations

from pyspark.sql import types as T

_S, _F = T.StructType, T.StructField


def _audit() -> list[T.StructField]:
    return [_F("created_at", T.TimestampType(), True),
            _F("updated_at", T.TimestampType(), True)]


# reference models.py:36-76 — name stored UPPER+trimmed
EXCHANGES = _S([_F("id", T.StringType(), False),
                _F("name", T.StringType(), False), *_audit()])

# reference models.py:79-108 — name case-preserved, matched case-insensitively
SECTORS = _S([_F("id", T.StringType(), False),
              _F("name", T.StringType(), False), *_audit()])

# reference models.py:111-187
STOCKS = _S([
    _F("id", T.StringType(), False),
    _F("ticker", T.StringType(), False),
    _F("sector_id", T.StringType(), True),
    _F("exchange_id", T.StringType(), True),
    _F("name", T.StringType(), True),
    _F("country", T.StringType(), True),
    _F("subindustry", T.StringType(), True),
    _F("morningstar_sector", T.StringType(), True),
    _F("morningstar_industry", T.StringType(), True),
    _F("industry", T.StringType(), True),
    _F("description", T.StringType(), True),
    *_audit(),
])

# the 9 metadata fields synced stock <- silver (update_stock_metadata.py:256-271)
STOCK_METADATA_FIELDS = ["name", "country", "subindustry", "morningstar_sector",
                         "morningstar_industry", "industry", "description",
                         "sector", "exchange"]

# reference models.py:301-415
INGESTION_RUNS = _S([
    _F("id", T.StringType(), False),
    _F("stock_id", T.StringType(), False),
    _F("ticker", T.StringType(), False),
    _F("bulk_queue_run_id", T.StringType(), True),
    _F("requested_by", T.StringType(), True),
    _F("request_id", T.StringType(), True),
    _F("state", T.StringType(), False),
    *_audit(),
    _F("queued_for_fetch_at", T.TimestampType(), True),
    _F("fetching_started_at", T.TimestampType(), True),
    _F("fetching_finished_at", T.TimestampType(), True),
    _F("queued_for_delta_at", T.TimestampType(), True),
    _F("delta_started_at", T.TimestampType(), True),
    _F("delta_finished_at", T.TimestampType(), True),
    _F("done_at", T.TimestampType(), True),
    _F("failed_at", T.TimestampType(), True),
    _F("error_code", T.StringType(), True),
    _F("error_message", T.StringType(), True),
    _F("raw_data_uri", T.StringType(), True),
    _F("processed_data_uri", T.StringType(), True),
])

# reference models.py:190-241
BULK_QUEUE_RUNS = _S([
    _F("id", T.StringType(), False),
    _F("requested_by", T.StringType(), True),
    _F("total_stocks", T.LongType(), True),
    _F("queued_count", T.LongType(), True),
    _F("skipped_count", T.LongType(), True),
    _F("error_count", T.LongType(), True),
    _F("created_at", T.TimestampType(), True),
    _F("started_at", T.TimestampType(), True),
    _F("completed_at", T.TimestampType(), True),
])

# raw JSON document shape (FIXTURES.md §1; queue_for_delta.py:473-516).
# Maps-of-strings on purpose: the metric set is dynamic and heterogeneous;
# from_json coerces JSON numbers to their text, and the transform decides
# double-vs-string per column afterwards.
RAW_STOCK_JSON = _S([
    _F("data", _S([
        _F("financials", _S([
            _F("quarterly", T.MapType(T.StringType(),
                                      T.ArrayType(T.StringType())), True),
            _F("ttm", T.MapType(T.StringType(), T.StringType()), True),
        ]), True),
        _F("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]), True),
])

# bronze landing zone: one raw document per run (plans/pipeline.py)
BRONZE = _S([_F("ticker", T.StringType(), True),
             _F("run_id", T.StringType(), True),
             _F("json_str", T.StringType(), True)])

SILVER_KEY_COLUMNS = ["ticker", "record_type", "period_end_date"]
RECORD_TYPES = ("financials", "metadata", "ttm")
