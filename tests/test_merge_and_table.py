"""MERGE semantics + ManagedTable storage (reference queue_for_delta.py
:693-799 — create-or-merge, null-safe keys, idempotency, schema evolution).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from stock_data_etl_pipeline_spark.operators.merge import (
    align_schemas,
    merge_upsert,
)
from stock_data_etl_pipeline_spark.sources.managed_table import (
    ManagedTable,
    SnapshotView,
    TableExistsError,
)


def df_of(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


SCHEMA = "ticker string, record_type string, period_end_date string, revenue double"


def test_update_all_and_insert_all(spark):
    target = df_of(spark, [("AAPL", "financials", "2024-03", 1.0),
                           ("AAPL", "financials", "2024-06", 2.0)], SCHEMA)
    source = df_of(spark, [("AAPL", "financials", "2024-06", 20.0),
                           ("AAPL", "financials", "2024-09", 3.0)], SCHEMA)
    out = merge_upsert(target, source,
                       ["ticker", "record_type", "period_end_date"])
    got = {r["period_end_date"]: r["revenue"] for r in out.collect()}
    assert got == {"2024-03": 1.0, "2024-06": 20.0, "2024-09": 3.0}


def test_null_key_matches_null_key(spark):
    # J4: metadata rows carry NULL period_end_date; NULL must match NULL
    target = df_of(spark, [("AAPL", "metadata", None, 1.0)], SCHEMA)
    source = df_of(spark, [("AAPL", "metadata", None, 99.0)], SCHEMA)
    out = merge_upsert(target, source,
                       ["ticker", "record_type", "period_end_date"])
    rows = out.collect()
    assert len(rows) == 1  # updated in place, NOT duplicated
    assert rows[0]["revenue"] == 99.0


def test_merge_idempotent(spark):
    target = df_of(spark, [("A", "financials", "2024-03", 1.0)], SCHEMA)
    source = df_of(spark, [("A", "financials", "2024-03", 1.0),
                           ("B", "financials", "2024-03", 2.0)], SCHEMA)
    once = merge_upsert(target, source, ["ticker", "record_type", "period_end_date"])
    twice = merge_upsert(once, source, ["ticker", "record_type", "period_end_date"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_schema_evolution_new_column(spark):
    target = df_of(spark, [("A", "financials", "2024-03", 1.0)], SCHEMA)
    source = df_of(spark, [("A", "financials", "2024-06", 2.0, 5.5)],
                   SCHEMA + ", eps double")
    out = merge_upsert(target, source, ["ticker", "record_type", "period_end_date"])
    got = {r["period_end_date"]: r["eps"] for r in out.collect()}
    assert got == {"2024-03": None, "2024-06": 5.5}


def test_source_dedup_last_writer_wins(spark):
    target = df_of(spark, [], SCHEMA)
    source = df_of(spark, [("A", "financials", "2024-03", 1.0),
                           ("A", "financials", "2024-03", 2.0)], SCHEMA)
    out = merge_upsert(target, source, ["ticker", "record_type", "period_end_date"],
                       dedup_source_order=[F.col("revenue").desc()])
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["revenue"] == 2.0


def test_align_schemas_types(spark):
    a = df_of(spark, [(1,)], "x long")
    b = df_of(spark, [(2.5, "s")], "y double, z string")
    aa, bb = align_schemas(a, b)
    assert aa.schema == bb.schema
    assert dict(aa.dtypes) == {"x": "bigint", "y": "double", "z": "string"}


# --- ManagedTable ----------------------------------------------------------

def test_table_create_error_mode(spark, tmp_table_dir):
    t = ManagedTable(spark, tmp_table_dir)
    df = df_of(spark, [("A", "x", "p", 1.0)], SCHEMA)
    t.create(df)
    with pytest.raises(TableExistsError):
        t.create(df)


def test_table_merge_versions_and_time_travel(spark, tmp_table_dir):
    t = ManagedTable(spark, tmp_table_dir)
    keys = ["ticker", "record_type", "period_end_date"]
    t.merge(df_of(spark, [("A", "f", "p1", 1.0)], SCHEMA), keys)
    t.merge(df_of(spark, [("A", "f", "p1", 5.0),
                          ("B", "f", "p1", 2.0)], SCHEMA), keys)
    assert t.latest_version() == 1
    assert {r["revenue"] for r in t.read().collect()} == {5.0, 2.0}
    assert {r["revenue"] for r in t.read(version=0).collect()} == {1.0}


def test_partitioned_merge_prunes_and_preserves(spark, tmp_table_dir):
    t = ManagedTable(spark, tmp_table_dir, partition_by=["record_type"])
    keys = ["ticker", "record_type", "period_end_date"]
    t.merge(df_of(spark, [("A", "financials", "p1", 1.0),
                          ("A", "metadata", None, 0.0)], SCHEMA), keys)
    # batch touches only 'financials'; metadata partition must survive
    t.merge(df_of(spark, [("A", "financials", "p1", 9.0)], SCHEMA), keys)
    got = {(r["record_type"], r["period_end_date"]): r["revenue"]
           for r in t.read().collect()}
    assert got == {("financials", "p1"): 9.0, ("metadata", None): 0.0}


def test_partitioned_merge_reuses_untouched_dirs(spark, tmp_table_dir):
    # the manifest design's point: a merge touching one partition must
    # RE-REFERENCE the other partitions' data dirs, not rewrite them
    t = ManagedTable(spark, tmp_table_dir, partition_by=["record_type"])
    keys = ["ticker", "record_type", "period_end_date"]
    t.merge(df_of(spark, [("A", "financials", "p1", 1.0),
                          ("A", "metadata", None, 0.0)], SCHEMA), keys)
    m0 = t._read_manifest(0)
    t.merge(df_of(spark, [("A", "financials", "p1", 9.0)], SCHEMA), keys)
    m1 = t._read_manifest(1)
    meta_key = [k for k in m0 if "metadata" in k][0]
    fin_key = [k for k in m0 if "financials" in k][0]
    assert m1[meta_key] == m0[meta_key]   # untouched: same immutable dir
    assert m1[fin_key] != m0[fin_key]     # touched: new dir


def test_vacuum_drops_old_versions(spark, tmp_table_dir):
    t = ManagedTable(spark, tmp_table_dir)
    keys = ["ticker"]
    for i in range(4):
        t.merge(df_of(spark, [("A", "f", "p", float(i))], SCHEMA), keys)
    t.vacuum(keep_last=1)
    assert t.read().collect()[0]["revenue"] == 3.0
    with pytest.raises(Exception):
        t.read(version=0).collect()

    # partitioned: the latest version re-references the untouched metadata
    # subdir of v0's write; vacuum keeps that write's data/<uuid> dir
    p = ManagedTable(spark, tmp_table_dir + "_p", partition_by=["record_type"])
    keys = ["ticker", "record_type", "period_end_date"]
    p.create(df_of(spark, [("A", "financials", "p1", 1.0),
                           ("A", "metadata", None, 0.0)], SCHEMA))
    for i in range(2, 4):
        p.merge(df_of(spark, [("A", "financials", "p1", float(i))], SCHEMA),
                keys)
    meta_key = '{"record_type": "metadata"}'
    assert p._read_manifest(2)[meta_key] == p._read_manifest(0)[meta_key]
    p.vacuum(keep_last=1)
    got = {r["record_type"]: r["revenue"] for r in p.read().collect()}
    assert got == {"financials": 3.0, "metadata": 0.0}


def _dicts(rows):
    return [dict(zip(["ticker", "record_type", "period_end_date", "revenue"],
                     r)) for r in rows]


@pytest.mark.parametrize("write, hook", [
    (lambda t, rows: t.merge(df_of(t.spark, rows, SCHEMA),
                             ["ticker", "record_type", "period_end_date"]),
     "_write_partition_dirs"),
    (lambda t, rows: t.append(_dicts(rows)), "_write_arrow")],
    ids=["merge", "append"])
def test_concurrent_writers_one_winner_one_conflict(spark, tmp_table_dir,
                                                    write, hook):
    # two handles race from the same base version: the writer that commits
    # second must surface the conflict (reference: partial unique
    # constraint -> IntegrityError -> 409), never silently orphan the
    # winner's commit
    from stock_data_etl_pipeline_spark.sources.managed_table import (
        ConcurrentModificationError,
    )
    t1 = ManagedTable(spark, tmp_table_dir)
    t2 = ManagedTable(spark, tmp_table_dir)
    t1.create(df_of(spark, [("AAPL", "financials", "2024-03", 1.0)], SCHEMA))

    src1 = [("AAPL", "financials", "2024-06", 2.0)]
    src2 = [("MSFT", "financials", "2024-06", 3.0)]

    # interleave: while t1's write is mid-flight (after it read the base
    # version, before its commit), t2 commits the same next version
    orig = getattr(t1, hook)

    def racy(*args):
        write(t2, src2)
        return orig(*args)

    setattr(t1, hook, racy)
    with pytest.raises(ConcurrentModificationError):
        write(t1, src1)

    # the winner's commit is intact and the loser changed nothing
    rows = {r["ticker"] for r in t1.read().collect()}
    assert rows == {"AAPL", "MSFT"}
    assert t1.latest_version() == 1


def test_history_lists_versions_newest_first(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "h"))
    t.create(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.merge(spark.createDataFrame([(2, "b")], "id long, v string"), ["id"])
    t.optimize()
    h = t.history().collect()
    assert [(r["version"], r["op"]) for r in h] == \
        [(2, "optimize"), (1, "merge"), (0, "create")]
    assert all(r["n_partitions"] == 1 for r in h)


def test_diff_reports_insert_update_delete(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "cdf"))
    t.create(spark.createDataFrame(
        [(1, "keep"), (2, "old"), (3, "gone")], "id long, v string"))
    # v1: id=2 updated, id=4 inserted, id=3 deleted (overwrite expresses
    # the delete; merge alone never deletes)
    t.overwrite(spark.createDataFrame(
        [(1, "keep"), (2, "new"), (4, "fresh")], "id long, v string"))
    d = {r["id"]: (r["_change_type"], r["v"])
         for r in t.diff(0, 1, keys=["id"]).collect()}
    assert d == {2: ("update_postimage", "new"),
                 3: ("delete", "gone"),
                 4: ("insert", "fresh")}  # id=1 unchanged -> absent


def test_diff_defaults_to_merge_keys_and_latest(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "cdf2"))
    t.create(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.merge(spark.createDataFrame(
        [(1, "a2"), (5, "n")], "id long, v string"), ["id"])
    d = {r["id"]: r["_change_type"] for r in t.diff(0).collect()}
    assert d == {1: "update_postimage", 5: "insert"}


def test_diff_preimage_rows(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "pre"))
    t.create(spark.createDataFrame([(1, 10.0)], "id long, x double"))
    t.overwrite(spark.createDataFrame([(1, 99.0)], "id long, x double"))
    rows = {(r["_change_type"], r["x"])
            for r in t.diff(0, 1, keys=["id"],
                            include_preimage=True).collect()}
    assert rows == {("update_preimage", 10.0), ("update_postimage", 99.0)}


def test_incremental_rollup_equals_recompute(spark, tmp_path):
    from pyspark.sql import functions as F

    from stock_data_etl_pipeline_spark.operators.incremental import (
        incremental_rollup,
    )
    t = ManagedTable(spark, str(tmp_path / "ivm"))
    v0 = [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0), (4, "c", 7.0)]
    # v1: id2 updated (a: 20->25), id3 deleted (group b vanishes),
    # id5 inserted into new group d
    v1 = [(1, "a", 10.0), (2, "a", 25.0), (4, "c", 7.0), (5, "d", 1.0)]
    schema = "id long, g string, x double"
    t.create(spark.createDataFrame(v0, schema))
    t.overwrite(spark.createDataFrame(v1, schema))

    def rollup(df):
        return df.groupBy("g").agg(F.count(F.lit(1)).alias("n"),
                                   F.sum("x").alias("x"))

    cdf = t.diff(0, 1, keys=["id"], include_preimage=True)
    maintained = incremental_rollup(rollup(t.read(0)), cdf, ["g"], ["x"])
    got = {r["g"]: (r["n"], r["x"]) for r in maintained.collect()}
    want = {r["g"]: (r["n"], r["x"]) for r in rollup(t.read(1)).collect()}
    assert got == want
    assert "b" not in got  # zero-count group retracted away


def test_streaming_maintain_rollup_across_batches(spark, tmp_path):
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from stock_data_etl_pipeline_spark.operators.incremental import (
        streaming_maintain_rollup,
    )
    src = str(tmp_path / "cdf_src")
    os.makedirs(src)
    schema = "g string, x double, _change_type string"

    def land(rows, name):
        scratch = str(tmp_path / f"_s_{name}")
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(scratch)
        shutil.move(glob.glob(os.path.join(scratch, "part-*.parquet"))[0],
                    os.path.join(src, name))

    land([("a", 10.0, "insert"), ("a", 20.0, "insert"),
          ("b", 5.0, "insert")], "b1.parquet")
    time.sleep(1.1)
    # batch 2: a's 20 -> 25 (pre+post), b's only row deleted
    land([("a", 20.0, "update_preimage"), ("a", 25.0, "update_postimage"),
          ("b", 5.0, "delete")], "b2.parquet")

    table = ManagedTable(spark, str(tmp_path / "rollup"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = streaming_maintain_rollup(stream, table, ["g"], ["x"],
                                  str(tmp_path / "cp"))
    q.awaitTermination()
    got = {r["g"]: (r["n"], r["x"]) for r in table.read().collect()}
    assert got == {"a": (2, 35.0)}  # b retracted to zero and dropped
    # restart with same checkpoint: no data -> rollup unchanged
    q2 = streaming_maintain_rollup(
        (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(src)),
        table, ["g"], ["x"], str(tmp_path / "cp"))
    q2.awaitTermination()
    assert table.read().count() == 1


def test_apply_cdf_replicates_version_step(spark, tmp_path):
    src = ManagedTable(spark, str(tmp_path / "src_t"))
    schema = "id long, v string"
    src.create(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], schema))
    src.overwrite(spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], schema))  # upd 2, del 3, ins 4

    replica = ManagedTable(spark, str(tmp_path / "rep_t"))
    replica.create(src.read(0))
    replica.apply_cdf(src.diff(0, 1, keys=["id"]), keys=["id"])

    got = sorted(tuple(r) for r in replica.read().collect())
    want = sorted(tuple(r) for r in src.read(1).collect())
    assert got == want
    assert replica.history().collect()[0]["op"] == "apply_cdf"


def test_scd2_merge_close_out_and_versions(spark):
    import datetime

    from stock_data_etl_pipeline_spark.operators.merge import scd2_merge
    d0 = datetime.date(2024, 1, 1)
    d1 = datetime.date(2024, 6, 1)
    dim = spark.createDataFrame(
        [(1, "gold", d0, None, True),
         (2, "silver", d0, None, True),
         # key 3 already has history: closed row + current row
         (3, "bronze", d0, d0, False),
         (3, "gold", d0, None, True)],
        "k long, tier string, effective_from date, effective_to date, "
        "is_current boolean")
    upd = spark.createDataFrame(
        [(1, "platinum"),   # change -> close out + new version
         (2, "silver"),     # unchanged -> no-op
         (4, "new"),        # unknown key -> insert current
         (None, "nil")],    # NULL key: null-safe match -> plain insert
        "k long, tier string")
    out = scd2_merge(dim, upd, ["k"], ["tier"], d1)
    rows = {(r["k"], r["tier"]): (r["effective_from"], r["effective_to"],
                                  r["is_current"])
            for r in out.collect()}
    assert rows[(1, "gold")] == (d0, d1, False)        # closed out
    assert rows[(1, "platinum")] == (d1, None, True)   # new version
    assert rows[(2, "silver")] == (d0, None, True)     # untouched
    assert rows[(3, "bronze")] == (d0, d0, False)      # history intact
    assert rows[(3, "gold")] == (d0, None, True)
    assert rows[(4, "new")] == (d1, None, True)        # fresh insert
    assert rows[(None, "nil")] == (d1, None, True)     # NULL key inserts
    assert len(rows) == 7


def test_manifest_stats_prune_dirs_and_read_where(spark, tmp_path):
    # a range read is read(version) plus the range filter, pushed into the
    # one scan over every dir (cluster_by sorts rows for row-group skipping)
    t = ManagedTable(spark, str(tmp_path / "skip"),
                     partition_by=["record_type"],
                     cluster_by=["period_end_date"])
    t.create(df_of(spark, [
        ("AAPL", "financials", "2023-03", 1.0),
        ("AAPL", "financials", "2023-06", 2.0),
        ("MSFT", "metadata", "2024-03", 3.0),
        ("MSFT", "metadata", "2024-06", 4.0)], SCHEMA))

    # no overlap at all -> empty (but well-formed) result
    empty = t.read_where("period_end_date", "2025-01", "2025-12")
    assert empty.count() == 0 and empty.columns == t.read().columns

    got = {r["ticker"] for r in
           t.read_where("period_end_date", "2024-01", "2024-12").collect()}
    assert got == {"MSFT"}
    # a range spanning both partitions returns rows from both
    both = t.read_where("period_end_date", "2023-05", "2024-05").collect()
    assert sorted(r["period_end_date"] for r in both) == ["2023-06", "2024-03"]
    # the residual filter applies INSIDE a partition's dir
    one = t.read_where("period_end_date", "2024-04", "2024-12").collect()
    assert [(r["ticker"], r["period_end_date"]) for r in one] == \
        [("MSFT", "2024-06")]


def test_manifest_stats_carry_over_on_partial_merge(spark, tmp_path):
    # a merge touching one partition re-references the other dir; range
    # reads over both the merged and the untouched partition stay right
    t = ManagedTable(spark, str(tmp_path / "skip2"),
                     partition_by=["record_type"],
                     cluster_by=["period_end_date"])
    t.create(df_of(spark, [
        ("AAPL", "financials", "2023-03", 1.0),
        ("MSFT", "metadata", "2024-03", 3.0)], SCHEMA))
    t.merge(df_of(spark, [("AAPL", "financials", "2023-09", 9.0)], SCHEMA),
            ["ticker", "record_type", "period_end_date"])

    meta = '{"record_type": "metadata"}'
    assert t._read_manifest(1)[meta] == t._read_manifest(0)[meta]
    rows = t.read_where("period_end_date", "2024-01", "2024-12").collect()
    assert [(r["ticker"], r["revenue"]) for r in rows] == [("MSFT", 3.0)]
    rows = t.read_where("period_end_date", "2023-07", "2023-12").collect()
    assert [(r["ticker"], r["revenue"]) for r in rows] == [("AAPL", 9.0)]


@pytest.mark.parametrize("partition_by", [[], ["record_type"]],
                         ids=["unpartitioned", "three_partitions"])
def test_read_and_read_where_launch_no_job(spark, tmp_path, partition_by,
                                          jobs_during):
    # the manifest carries the schema, so opening a table infers nothing:
    # read() and read_where() build a plan without running a Spark job
    t = ManagedTable(spark, str(tmp_path / "t"), partition_by=partition_by,
                     cluster_by=["period_end_date"])
    t.create(df_of(spark, [("A", rt, "2024-03", 1.0)
                           for rt in ("financials", "metadata", "ttm")],
                   SCHEMA))
    assert len(t._read_manifest(0)) == (3 if partition_by else 1)
    # the create wrote every partition in one rebalance job and one write
    # job, however many partitions it has
    t2 = ManagedTable(spark, str(tmp_path / "t2"), partition_by=partition_by,
                      cluster_by=["period_end_date"])
    src = df_of(spark, [("A", rt, "2024-03", 1.0)
                        for rt in ("financials", "metadata", "ttm")], SCHEMA)
    assert jobs_during(lambda: t2.create(src)) == 2
    # a multi-slice source still writes one file per partition subdir
    t3 = ManagedTable(spark, str(tmp_path / "t3"), partition_by=partition_by,
                      cluster_by=["period_end_date"])
    t3.create(df_of(spark, [(f"T{i}", rt, "2024-03", 1.0) for i in range(4)
                            for rt in ("financials", "metadata", "ttm")],
                    SCHEMA).repartition(4))
    for d in t3._read_manifest(0).values():
        files = [f for f in os.listdir(os.path.join(t3.path, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    assert jobs_during(lambda: (
        t.read(), t.read_where("period_end_date", "2024-01", "2024-12"))) == 0
    assert t.read_where("period_end_date", "2024-01", "2024-12").count() == 3
    # a range read comes back as a local relation: a filter, a projection
    # and the collect over it fold on the driver, as in the API's range read
    got = []
    assert jobs_during(lambda: got.extend(
        t.read_where("period_end_date", "2024-01", "2024-12")
        .filter(F.col("revenue") > 0).select("ticker", "record_type")
        .collect())) == 0
    assert sorted(r["record_type"] for r in got) == [
        "financials", "metadata", "ttm"]
    # an append of driver rows is written on the driver: no Spark job, and
    # the partitions the Spark write keyed, one file each
    assert jobs_during(lambda: t.append(
        _dicts([("B", "ttm", "2024-06", 2.0)]))) == 0
    assert t.latest_version() == 1 and t.read().count() == 4
    assert set(t._read_manifest(1)) == set(t._read_manifest(0))
    for d in t._read_manifest(1).values():
        assert len(os.listdir(os.path.join(t.path, d))) == 1, d


RANGE_SCHEMA = "ticker string, kind string, at timestamp, day date, px double"


@pytest.mark.parametrize("tz", ["UTC", "America/New_York", "Asia/Kolkata"])
def test_read_where_matches_read_filter(spark, tmp_path, tz):
    # the driver range read returns what read().filter() returns, schema
    # and rows, under any session time zone: timestamps, dates, doubles
    # (NaN included), nulls, a column one partition's dir lacks, every
    # bound shape and time travel
    from datetime import date, datetime, timezone
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        t = ManagedTable(spark, str(tmp_path / "r"), partition_by=["kind"],
                         cluster_by=["at"])
        t.create(df_of(spark, [
            ("AAPL", "q", datetime(2024, 1, 1, 23, 30), date(2024, 1, 1), 1.5),
            ("AAPL", "q", datetime(2024, 3, 31, 2, 0), date(2024, 3, 31),
             float("nan")),
            ("MSFT", "q", None, None, None),
            ("MSFT", "m", datetime(2023, 12, 31, 20, 0), date(2023, 12, 31),
             -2.0),
            ("TSLA", "m", datetime(2024, 6, 1), date(2024, 6, 1), 0.0),
            # past the nanosecond range of an INT96 timestamp decoded as ns
            ("ZZZ", "m", datetime(2300, 1, 1), date(2300, 1, 1), 9.0)],
            RANGE_SCHEMA))
        # touches kind=q only and adds a column: the kind=m dir lacks it
        t.merge(df_of(spark, [
            ("AAPL", "q", datetime(2024, 1, 1, 23, 30), date(2024, 1, 1), 2.5,
             7.0),
            ("NVDA", "q", datetime(2024, 2, 1, 5, 0), None, None, None)],
            RANGE_SCHEMA + ", score double"), ["ticker", "kind", "at"])
        m = '{"kind": "m"}'
        assert t._read_manifest(1)[m] == t._read_manifest(0)[m]

        def rows(df):
            return sorted(repr(tuple(r)) for r in df.collect())

        ranges = {
            "ticker": [("AAPL", None), (None, "MSFT"), ("B", "N"), ("X", "Z")],
            "at": [(datetime(2024, 1, 1), None),
                   (None, datetime(2024, 1, 2, tzinfo=timezone.utc)),
                   (datetime(2024, 1, 1, 23, 30), datetime(2024, 3, 31, 2)),
                   (datetime(2200, 1, 1), None)],
            "day": [(date(2024, 1, 1), date(2024, 3, 31)),
                    (None, date(2023, 12, 31)), (date(2030, 1, 1), None)],
            "px": [(0.0, None), (None, 2.0), (float("nan"), None),
                   (None, float("nan")), (-5.0, -1.0)],
            "score": [(0.0, None), (None, 100.0)],
        }
        cases = [(c, lo, hi, v) for c, bounds in ranges.items()
                 for lo, hi in bounds + [(None, None)]
                 for v in (None, 0) if c != "score" or v is None]
        for col, lo, hi, version in cases:
            got = t.read_where(col, lo, hi, version=version)
            want = t.read(version)
            if lo is not None:
                want = want.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                want = want.filter(F.col(col) <= F.lit(hi))
            case = (col, lo, hi, version)
            assert got.schema == want.schema, case
            assert rows(got) == rows(want), case
        # the cases above are not all empty or all full
        assert len(t.read_where("score", 0.0).collect()) == 1
        assert len(t.read_where("ticker", "X", "Z").collect()) == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_read_where_converts_bounds_like_lit(spark, tmp_path):
    # bounds convert through the column's Spark type, as F.lit converts
    # them; one of the wrong type raises TypeError before a file is read
    import shutil
    from datetime import date, datetime, timezone
    t = ManagedTable(spark, str(tmp_path / "b"))
    t.create(df_of(spark, [
        ("A", "q", datetime(2024, 1, 1, 12), date(2024, 1, 1), 1.0, 1),
        ("B", "q", datetime(2024, 1, 2, 12), date(2024, 1, 2), 2.0, 2)],
        RANGE_SCHEMA + ", n long"))
    naive = t.read_where("at", datetime(2024, 1, 2)).collect()
    assert [r["ticker"] for r in naive] == ["B"]
    aware = t.read_where("at", hi=datetime(2024, 1, 1, 12,
                                           tzinfo=timezone.utc)).collect()
    assert [r["ticker"] for r in aware] == [
        r["ticker"] for r in t.read().filter(
            F.col("at") <= F.lit(datetime(2024, 1, 1, 12,
                                          tzinfo=timezone.utc))).collect()]
    assert [r["ticker"] for r in
            t.read_where("day", date(2024, 1, 2), date(2024, 1, 2)).collect()
            ] == ["B"]
    assert [r["ticker"] for r in t.read_where("n", 2).collect()] == ["B"]
    shutil.rmtree(os.path.join(t.path, "data"))
    # 1.5 must not truncate to 1 on the long column: Spark compares 1 >= 1.5
    # as doubles
    for col, bound in [("day", "2024-01-02"), ("at", date(2024, 1, 2)),
                       ("px", "high"), ("ticker", 3), ("n", 1.5)]:
        with pytest.raises(TypeError, match=f"column {col} "):
            t.read_where(col, bound)
        with pytest.raises(TypeError):
            t.read_where(col, hi=bound)


def test_manifest_schema_matches_read_schema(spark, tmp_path):
    # every commit records the written schema; a merge adding a column
    # records the widened one, and read() returns exactly it
    from pyspark.sql.types import StructType
    t = ManagedTable(spark, str(tmp_path / "s"), partition_by=["record_type"])
    t.create(df_of(spark, [("A", "financials", "p1", 1.0),
                           ("A", "metadata", None, None)], SCHEMA))
    t.merge(df_of(spark, [("A", "financials", "p2", 2.0, 7)],
                  SCHEMA + ", eps long"),
            ["ticker", "record_type", "period_end_date"])
    for v in (0, 1):
        recorded = StructType.fromJson(t.commit_meta(v)["schema"])
        got = t.read(v).schema
        assert [(f.name, f.dataType) for f in recorded] == \
            [(f.name, f.dataType) for f in got]
    assert t.read().columns == ["ticker", "record_type", "period_end_date",
                                "revenue", "eps"]
    # the untouched metadata dir lacks eps: it reads as NULL
    meta = t.read().filter(F.col("record_type") == "metadata").collect()
    assert meta[0]["eps"] is None


def test_manifest_row_counts_follow_every_write(spark, tmp_path):
    # each data dir's footer row count lands in the manifest; a partial
    # merge re-references the untouched partition's count
    t = ManagedTable(spark, str(tmp_path / "rows"),
                     partition_by=["record_type"],
                     cluster_by=["period_end_date"])
    assert t.num_rows() == 0
    t.create(df_of(spark, [
        ("AAPL", "financials", "2024-03", 1.0),
        ("MSFT", "financials", "2024-03", 2.0),
        ("AAPL", "metadata", None, None)], SCHEMA))
    t.merge(df_of(spark, [("AAPL", "financials", "2024-03", 5.0),
                          ("AAPL", "financials", "2024-06", 6.0)], SCHEMA),
            ["ticker", "record_type", "period_end_date"])
    assert sorted(t.commit_meta()["rows"].values()) == [1, 3]
    assert t.num_rows() == t.read().count() == 4
    assert t.num_rows(version=0) == 3
    t.overwrite(t.read().filter(F.col("record_type") == "metadata"))
    assert t.num_rows() == 1


KEYS = ["ticker", "record_type", "period_end_date"]


def _rows(df):
    return sorted((r["ticker"], r["revenue"]) for r in df.collect())


def test_read_reuses_one_snapshot_per_commit(spark, tmp_path):
    # read() resolves the pointer on every call but hands back one
    # DataFrame per commit; every write path moves it to the new rows
    t = ManagedTable(spark, str(tmp_path / "snap"), partition_by=["record_type"])
    t.create(df_of(spark, [("A", "financials", "p1", 1.0)], SCHEMA))
    prev = t.read()
    assert t.read() is prev
    writes = [
        (lambda: t.overwrite(df_of(spark, [("B", "financials", "p1", 2.0)],
                                   SCHEMA)),
         [("B", 2.0)]),
        (lambda: t.merge(df_of(spark, [("B", "metadata", "p1", 3.0)], SCHEMA),
                         KEYS),
         [("B", 2.0), ("B", 3.0)]),
        (t.optimize, [("B", 2.0), ("B", 3.0)]),
    ]
    for write, want in writes:
        write()
        cur = t.read()
        assert cur is not prev and t.read() is cur
        assert _rows(cur) == want
        prev = cur
    # a time-travel miss is a fresh scan and leaves the slot alone
    assert _rows(t.read(0)) == [("A", 1.0)]
    assert t.read() is prev


@pytest.mark.parametrize("cache", [False, True], ids=["plain", "cached"])
def test_recreated_table_never_hits_the_old_snapshot(spark, tmp_path, cache):
    # dropped and re-created through the same instance, the table is at
    # version 0 again: its new dirs, not the version number, decide, both
    # for the table's snapshot slot and for a driver-held view over it
    import shutil
    path = str(tmp_path / "again")
    t = ManagedTable(spark, path)
    view = SnapshotView(t.read, [t])
    read = view.read if cache else t.read
    t.create(df_of(spark, [("A", "metadata", None, 1.0)], SCHEMA))
    old = read()
    assert _rows(old) == [("A", 1.0)]
    shutil.rmtree(path)
    t.create(df_of(spark, [("B", "metadata", None, 2.0),
                           ("C", "metadata", None, 3.0)], SCHEMA))
    assert t.latest_version() == 0
    new = read()
    assert new is not old
    assert view.builds == (2 if cache else 0)
    assert _rows(new) == [("B", 2.0), ("C", 3.0)]


def _read_at_once(read, n: int = 8) -> list:
    """``read()`` from ``n`` threads released together by a barrier, with
    a tiny switch interval so they interleave inside it; their results."""
    import sys
    import threading

    barrier, got = threading.Barrier(n), []

    def reader():
        barrier.wait(timeout=30)
        got.append(read())
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader) for _ in range(n)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
            assert not th.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == n
    return got


def test_concurrent_readers_share_one_snapshot_per_commit(spark, tmp_path):
    # after each commit, more reader threads than cores race on the slot
    # miss: all must get the one snapshot DataFrame of that commit
    t = ManagedTable(spark, str(tmp_path / "race"))
    t.create(df_of(spark, [("A", "metadata", None, 0.0)], SCHEMA))
    prev = t.read()
    for i in range(1, 4):
        t.overwrite(df_of(spark, [("A", "metadata", None, float(i))], SCHEMA))
        got = _read_at_once(t.read)
        assert all(df is got[0] for df in got)
        assert got[0] is not prev
        assert _rows(got[0]) == [("A", float(i))]
        prev = got[0]


def test_concurrent_view_readers_share_one_build_per_commit(spark, tmp_path):
    # the same race on a driver-held view over a table: after each commit,
    # the readers must all get one DataFrame, built once
    t = ManagedTable(spark, str(tmp_path / "race"))
    t.create(df_of(spark, [("A", "metadata", None, 0.0)], SCHEMA))
    view = SnapshotView(t.read, [t])
    prev = view.read()
    for i in range(1, 4):
        t.overwrite(df_of(spark, [("A", "metadata", None, float(i))], SCHEMA))
        builds = view.builds
        got = _read_at_once(view.read)
        assert all(df is got[0] for df in got)
        assert got[0] is not prev
        assert view.builds == builds + 1
        assert _rows(got[0]) == [("A", float(i))]
        prev = got[0]


def test_diff_of_a_reused_snapshot_with_itself_is_empty(spark, tmp_path):
    # diff(v, v) joins one DataFrame object with itself: the self-join
    # must still match every key to itself
    t = ManagedTable(spark, str(tmp_path / "self"), partition_by=["record_type"])
    t.create(df_of(spark, [("A", "financials", "p1", 1.0),
                           (None, "metadata", None, 2.0)], SCHEMA))
    t.merge(df_of(spark, [("A", "financials", "p1", 5.0)], SCHEMA), KEYS)
    v = t.latest_version()
    latest = t.read()
    assert t.read(v) is latest
    assert t.diff(v, v).count() == 0
    assert [r["_change_type"] for r in t.diff(v - 1, v).collect()] == \
        ["update_postimage"]

def test_incremental_join_view_equals_recompute(spark, tmp_path):
    """Maintained inner-join view: fold dL><R0 + L1><dR into the view
    and land exactly where a full re-join of the new snapshots does —
    covering insert/update/delete on BOTH sides in one step, including
    a key MOVE (update that changes the join key: the preimage retracts
    the old match, the postimage joins the new one)."""
    from pyspark.sql import functions as F

    from stock_data_etl_pipeline_spark.operators.incremental import (
        apply_join_view_delta,
        join_view_delta,
    )
    L = ManagedTable(spark, str(tmp_path / "L"))
    R = ManagedTable(spark, str(tmp_path / "R"))
    l0 = [(1, "k1", "a"), (2, "k1", "b"), (3, "k2", "c"), (4, "k3", "d")]
    # id2 moves k1->k2, id3 deleted, id5 inserted on k3
    l1 = [(1, "k1", "a"), (2, "k2", "b"), (4, "k3", "d"), (5, "k3", "e")]
    r0 = [(10, "k1", 1.0), (11, "k2", 2.0), (12, "k4", 9.0)]
    # id11 value updated, id12 deleted, id13 inserted on k3
    r1 = [(10, "k1", 1.0), (11, "k2", 2.5), (13, "k3", 3.0)]
    L.create(spark.createDataFrame(l0, "lid long, k string, a string"))
    L.overwrite(spark.createDataFrame(l1, "lid long, k string, a string"))
    R.create(spark.createDataFrame(r0, "rid long, k string, v double"))
    R.overwrite(spark.createDataFrame(r1, "rid long, k string, v double"))

    view_cols = ["lid", "k", "a", "rid", "v"]

    def weighted(df):
        return (df.groupBy(*view_cols)
                .agg(F.count(F.lit(1)).alias("_n")))

    v0 = weighted(L.read(0).join(R.read(0), "k"))
    dl = L.diff(0, 1, keys=["lid"], include_preimage=True)
    dr = R.diff(0, 1, keys=["rid"], include_preimage=True)
    delta = join_view_delta(dl, R.read(0), L.read(1), dr,
                            on=["k"], view_cols=view_cols)
    maintained = apply_join_view_delta(v0, delta, view_cols)
    want = weighted(L.read(1).join(R.read(1), "k"))
    got = sorted(tuple(r) for r in maintained.collect())
    exp = sorted(tuple(r) for r in want.collect())
    assert got == exp
    # sanity: the maintained view is non-trivial and covers the moved key
    assert any(r[0] == 2 and r[1] == "k2" for r in got)


def test_streaming_maintain_join_view(spark, tmp_path):
    """Stream of left-side change rows maintains the join view across
    micro-batches: insert batch, then a retraction batch (delete) —
    final view equals the join of the net left rows with R."""
    from pyspark.sql import functions as F

    from stock_data_etl_pipeline_spark.operators.incremental import (
        streaming_maintain_join_view,
    )
    src = str(tmp_path / "chg")
    schema = "lid long, k string, _change_type string"
    # batch 1: two inserts
    (spark.createDataFrame([(1, "k1", "insert"), (2, "k2", "insert")], schema)
     .coalesce(1).write.mode("append").parquet(src))
    # batch 2: lid 2 deleted, lid 3 inserted on k1
    (spark.createDataFrame([(2, "k2", "delete"), (3, "k1", "insert")], schema)
     .coalesce(1).write.mode("append").parquet(src))
    right = spark.createDataFrame([("k1", 1.0), ("k2", 2.0)],
                                  "k string, v double")
    view = ManagedTable(spark, str(tmp_path / "view"))
    stream = (spark.readStream
              .schema("lid long, k string, _change_type string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = streaming_maintain_join_view(
        stream, view, right, on=["k"], view_cols=["lid", "k", "v"],
        checkpoint=str(tmp_path / "cp"))
    q.awaitTermination()
    got = sorted((r["lid"], r["k"], r["v"], r["_n"])
                 for r in view.read().collect())
    assert got == [(1, "k1", 1.0, 1), (3, "k1", 1.0, 1)]


def test_first_overwrite_with_meta_commits_once(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "ow"))
    t.overwrite(df_of(spark, [("A", "f", "p", 1.0)], SCHEMA),
                meta={"epoch": 0})
    assert t.latest_version() == 0
    assert t.commit_meta()["epoch"] == 0
    assert _rows(t.read()) == [("A", 1.0)]


def test_partition_values_round_trip(spark, tmp_path):
    # a null partition value and values holding path and JSON syntax each
    # get a subdir of the one write, a manifest key and their own rows
    t = ManagedTable(spark, str(tmp_path / "odd"), partition_by=["record_type"])
    odd = [None, "a/b", "k=v", "50%", "{x", "", "tab\there"]
    t.create(df_of(spark, [(f"T{i}", rt, "p", float(i))
                           for i, rt in enumerate(odd)], SCHEMA))
    m = t._read_manifest(0)
    assert sorted(m) == sorted(
        json.dumps({"record_type": rt}) for rt in odd)
    assert len({d.split("/")[1] for d in m.values()}) == 1  # one data/<uuid>
    got = {r["record_type"]: r["ticker"] for r in t.read().collect()}
    assert got == {rt: f"T{i}" for i, rt in enumerate(odd)}
    # a merge touching the null and the slash partition keeps the rest
    t.merge(df_of(spark, [("T0", None, "p", 9.0), ("T1", "a/b", "p", 8.0)],
                  SCHEMA), ["ticker", "record_type", "period_end_date"])
    m1 = t._read_manifest(1)
    assert sorted(m1) == sorted(m)
    assert [k for k in m if m1[k] == m[k]] == [
        k for k in m if json.loads(k)["record_type"] not in (None, "a/b")]
    got = {r["ticker"]: r["revenue"] for r in t.read().collect()}
    assert got == {"T0": 9.0, "T1": 8.0,
                   **{f"T{i}": float(i) for i in range(2, len(odd))}}


@pytest.mark.parametrize("partition_by", [[], ["record_type"]],
                         ids=["unpartitioned", "partitioned"])
def test_zero_row_write_reads_back_empty(spark, tmp_path, partition_by,
                                        jobs_during):
    t = ManagedTable(spark, str(tmp_path / "empty"), partition_by=partition_by)
    t.create(spark.createDataFrame([], SCHEMA))
    empty = t.read()
    assert empty.count() == 0 and t.num_rows() == 0
    assert empty.schema == spark.createDataFrame([], SCHEMA).schema
    t.merge(df_of(spark, [("A", "f", "p", 1.0)], SCHEMA),
            ["ticker", "record_type", "period_end_date"])
    assert _rows(t.read()) == [("A", 1.0)]
    t.overwrite(t.read().filter(F.col("ticker") == "none"))
    assert t.read().count() == 0 and t.num_rows() == 0
    # a declared schema reads as its empty frame before the first commit,
    # with no job; without one, reading a missing table raises
    declared = spark.createDataFrame([], SCHEMA).schema
    typed = ManagedTable(spark, str(tmp_path / "typed"),
                         partition_by=partition_by, schema=declared)
    assert jobs_during(lambda: typed.read().collect()) == 0
    assert typed.read().schema == declared and not typed.exists()
    with pytest.raises(FileNotFoundError):
        ManagedTable(spark, str(tmp_path / "untyped"),
                     partition_by=partition_by).read()
