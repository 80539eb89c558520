"""Scale operators: compaction, clustering, salted join."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stock_data_etl_pipeline_spark.operators.skew import salted_join
from stock_data_etl_pipeline_spark.sources.managed_table import ManagedTable

SCHEMA = "ticker string, record_type string, period_end_date string, revenue double"


def test_optimize_compacts_files(spark, tmp_table_dir):
    t = ManagedTable(spark, tmp_table_dir, partition_by=["record_type"],
                     cluster_by=["ticker"])
    keys = ["ticker", "record_type", "period_end_date"]
    # several small merges -> several small files
    for i in range(3):
        t.merge(spark.createDataFrame(
            [(f"T{i}", "financials", f"p{i}", float(i))], SCHEMA), keys)
    before = t.read().collect()
    t.optimize()
    after = t.read().collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # compacted: exactly one parquet file in the financials dir
    manifest = t._read_manifest(t.latest_version())
    d = next(iter(manifest.values()))
    files = [f for f in os.listdir(os.path.join(tmp_table_dir, d))
             if f.endswith(".parquet")]
    assert len(files) == 1


def test_cluster_by_sorts_within_files(spark, tmp_table_dir):
    t = ManagedTable(spark, tmp_table_dir, cluster_by=["ticker"])
    df = spark.createDataFrame(
        [("Z", "f", "p", 1.0), ("A", "f", "p", 2.0), ("M", "f", "p", 3.0)],
        SCHEMA).coalesce(1)
    t.create(df)
    manifest = t._read_manifest(0)
    d = next(iter(manifest.values()))
    part = spark.read.parquet(os.path.join(tmp_table_dir, d)).collect()
    assert [r["ticker"] for r in part] == ["A", "M", "Z"]


def test_salted_join_equals_plain_join(spark):
    # heavy skew: key 'hot' dominates
    probe = spark.createDataFrame(
        [(("hot" if i % 10 else f"k{i}"), i) for i in range(1000)],
        "k string, v long")
    build = spark.createDataFrame(
        [("hot", 100), ("k10", 200), ("k20", 300)], "k string, w long")
    plain = {(r["k"], r["v"], r["w"])
             for r in probe.join(build, "k", "inner").collect()}
    salted = {(r["k"], r["v"], r["w"])
              for r in salted_join(probe, build, "k", salt=4).collect()}
    assert salted == plain
    assert len(salted) == 902  # 900 hot + k10 + k20


def test_footer_stats_multi_file_equals_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    from stock_data_etl_pipeline_spark.sources.registry import footer_stats
    d = str(tmp_path / "multi")
    df = spark.range(0, 10000).select(
        (F.col("id") * 3 % 997).cast("double").alias("x"))
    df.repartition(7).write.parquet(d)  # several part files
    got = footer_stats(spark, d, "x").collect()[0]
    want = df.agg(F.count(F.lit(1)).alias("n"), F.min("x"),
                  F.max("x")).collect()[0]
    assert (got["n_rows"], got["min_v"], got["max_v"]) == \
        (want[0], want[1], want[2])


def test_profile_columns_one_pass_counts(spark):
    from stock_data_etl_pipeline_spark.operators.aggregates import (
        profile_columns,
    )
    d = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "a")],
        "k long, v string")
    out = {r["column"]: r for r in profile_columns(d, ["k", "v"]).collect()}
    assert (out["k"]["n_rows"], out["k"]["n_nulls"],
            out["k"]["n_distinct"]) == (4, 1, 2)
    assert (out["v"]["min_s"], out["v"]["max_s"]) == ("a", "b")
    assert out["v"]["n_nulls"] == 1
