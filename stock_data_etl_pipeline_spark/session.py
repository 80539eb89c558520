"""SparkSession factory.

Tuned for the test harness (local[N], single JVM) but every setting is the
one you'd want on a real cluster too:

- AQE on (runtime re-plan: coalesce post-shuffle partitions, skew-join
  splitting, dynamic broadcast conversion) — at 100 TB this is what turns a
  statically mis-sized shuffle into a correctly-sized one.
- shuffle partitions sized to cores locally; on a cluster AQE's coalesce
  makes the initial number mostly a ceiling.
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are stable across executor hosts.
- Arrow enabled for the pandas-UDF slow path.
- PySpark's DataFrame debugging off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). When on, the
  default, every ``functions`` call and ``Column`` method inspects the
  Python stack and sends the call site to the JVM: one ``F.col`` costs
  about 15 py4j round trips instead of 3, and ``df.filter(col == lit)``
  29 instead of 5. Building the plans of a request is then most of its
  cost, and the JVM's compiler threads spend more CPU than the request's
  own work. The price is the call site: an analysis error (an unresolved
  column, a failed cast) names the failing expression but no longer the
  Python file and line that built it; read the traceback instead. The
  setting is fixed, not an option: PySpark reads it once per process.

When `delta-spark` is importable the session is configured with the Delta
extensions (``HAS_DELTA``); that is all it changes. Every table the engine
writes is a `sources.managed_table.ManagedTable` on plain parquet, with or
without delta-spark.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

try:  # pragma: no cover - environment-dependent
    from delta import configure_spark_with_delta_pip  # type: ignore

    HAS_DELTA = True
except Exception:  # pragma: no cover
    # delta-spark absent: `pip install delta-spark` retried and failed
    # ("no matching distribution" — no package network in the sandbox)
    # on 2026-08-13; `import delta` re-checked absent 2026-08-16 (r13).
    # merge/CDF/time-travel semantics run on the parquet ManagedTable
    # replica until the package can land.
    configure_spark_with_delta_pip = None
    HAS_DELTA = False


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(app_name: str = "stock-data-etl-pipeline-spark",
              cores: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or return the active) SparkSession with engine defaults."""
    n = cores or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no call-site capture per Column call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python Data Source v2 filter pushdown (sources/fetch_datasource
        # prunes its fetch list from pushed ticker predicates)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan split size. Default 128m leaves a ~20 MB single-file table
        # as ONE scan task regardless of cores (4x slower q1 locally).
        # 4m parallelizes small single-file tables across local cores; on
        # a real cluster with TB-scale multi-file tables set this back up
        # (SPARK_GRAFT_MAX_PARTITION_BYTES=134217728) to avoid task flood.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4194304"))
        # session-catalog warehouse for bucketed tables; keep it out of
        # the repo working directory
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               os.path.join(tempfile.gettempdir(),
                                            "spark_graft_warehouse")))
        # Some testdata generations store events.ts as TIMESTAMP(NANOS),
        # which the Spark parquet reader rejects outright; this conf lets
        # those files scan as int64 (the registry converts ns -> us). It
        # has NO effect on timestamp[us] files — the registry reads the
        # footer and branches (sources/registry.events_ts_unit).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # Streaming state store: RocksDB spills per-key state to local disk
    # instead of holding it on the JVM heap — the bounded-memory backend
    # for 100 TB-cardinality stateful dedup/aggregation. Off by default
    # locally (HDFS-backed in-memory is faster at test scale and state
    # correctness is backend-independent — tests/test_streaming_dedup
    # passes under either); it is a runtime conf, so callers can also
    # flip it per-session before starting a query.
    if os.environ.get("SPARK_GRAFT_ROCKSDB_STATE") == "1":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
    if HAS_DELTA and configure_spark_with_delta_pip is not None:
        builder = (
            builder.config("spark.sql.extensions",
                           "io.delta.sql.DeltaSparkSessionExtension")
            .config("spark.sql.catalog.spark_catalog",
                    "org.apache.spark.sql.delta.catalog.DeltaCatalog")
        )
        builder = configure_spark_with_delta_pip(builder)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
