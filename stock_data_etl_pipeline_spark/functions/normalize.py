"""Normalization scalar functions (the reference's ingest-boundary rules).

All pure Column expressions — JVM-side, codegen'd, no UDFs — so they can sit
inside scans and filters without breaking whole-stage codegen or pushdown;
``key_of`` is the key rule for names already on the driver.

Parity targets (reference, /root/reference/):
- key normalization strip().upper(): services/api/models.py:61-70,172-181,
  services/workers/tasks/queue_for_fetch.py:102
- null-string sentinels {"N/A","NA","NULL","NONE","-"} compared
  case-insensitively after strip: services/workers/tasks/queue_for_delta.py:457-459
- ticker validation alnum-only <=10 chars: services/api/serializers.py:227-242
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NULL_SENTINELS = ("N/A", "NA", "NULL", "NONE", "-")


def normalize_key(col: Column | str) -> Column:
    """``strip().upper()`` — applied to tickers/exchange names at ingest."""
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.trim(c))


def key_of(name: str) -> str:
    """The driver-side matching rule for tickers and dim names
    (models.py:61-70). Python's ``strip`` also drops tabs and newlines,
    which Spark's ``trim`` keeps."""
    return name.strip().upper()


def normalize_null_sentinels(col: Column | str) -> Column:
    """Map null-string sentinels (any case/whitespace) to real NULL."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.upper(F.trim(c)).isin(*NULL_SENTINELS), F.lit(None)).otherwise(c)


def valid_ticker(col: Column | str) -> Column:
    """Boolean: alphanumeric-only, 1-10 chars (after key normalization)."""
    return normalize_key(col).rlike("^[A-Za-z0-9]{1,10}$")
