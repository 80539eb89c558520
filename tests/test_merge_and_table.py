"""MERGE semantics + ManagedTable storage (reference queue_for_delta.py
:693-799 — create-or-merge, null-safe keys, idempotency, schema evolution).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_data_etl_pipeline_spark.operators.merge import (
    align_schemas,
    merge_if_changed,
    merge_insert_only,
    merge_upsert,
)
from stock_data_etl_pipeline_spark.sources.managed_table import (
    ManagedTable,
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


def test_merge_insert_only_keeps_target(spark):
    target = df_of(spark, [("A", "x", "p", 1.0)], SCHEMA)
    source = df_of(spark, [("A", "x", "p", 99.0), ("B", "x", "p", 2.0)], SCHEMA)
    out = merge_insert_only(target, source, ["ticker"])
    got = {r["ticker"]: r["revenue"] for r in out.collect()}
    assert got == {"A": 1.0, "B": 2.0}


def test_merge_if_changed_equals_upsert_relation(spark):
    target = df_of(spark, [("A", "x", "p", 1.0), ("B", "x", "p", 2.0)], SCHEMA)
    source = df_of(spark, [("A", "x", "p", 1.0),   # unchanged
                           ("B", "x", "p", 20.0),  # changed
                           ("C", "x", "p", 3.0)], SCHEMA)  # new
    out = merge_if_changed(target, source, ["ticker"], ["revenue"])
    got = {r["ticker"]: r["revenue"] for r in out.collect()}
    assert got == {"A": 1.0, "B": 20.0, "C": 3.0}


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


def test_concurrent_writers_one_winner_one_conflict(spark, tmp_table_dir):
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

    src1 = df_of(spark, [("AAPL", "financials", "2024-06", 2.0)], SCHEMA)
    src2 = df_of(spark, [("MSFT", "financials", "2024-06", 3.0)], SCHEMA)

    # interleave: while t1's merge is mid-flight (after it read the base
    # version, before its commit), t2 commits the same next version
    orig = t1._write_partition_dirs

    def racy(df):
        t2.merge(src2, ["ticker", "record_type", "period_end_date"])
        return orig(df)

    t1._write_partition_dirs = racy
    with pytest.raises(ConcurrentModificationError):
        t1.merge(src1, ["ticker", "record_type", "period_end_date"])

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
    # Delta-style data skipping: per-dir [min,max] for the cluster_by
    # column lands in the manifest at commit time (footer-harvested, no
    # data read); a range read consults ONLY the manifest to drop dirs.
    t = ManagedTable(spark, str(tmp_path / "skip"),
                     partition_by=["record_type"],
                     cluster_by=["period_end_date"])
    t.create(df_of(spark, [
        ("AAPL", "financials", "2023-03", 1.0),
        ("AAPL", "financials", "2023-06", 2.0),
        ("MSFT", "metadata", "2024-03", 3.0),
        ("MSFT", "metadata", "2024-06", 4.0)], SCHEMA))

    # disjoint ranges -> each range read prunes to exactly one dir
    assert len(t.prune_dirs("period_end_date", "2024-01", "2024-12")) == 1
    assert len(t.prune_dirs("period_end_date", "2023-01", "2023-12")) == 1
    # stat-covered range touching both dirs keeps both
    assert len(t.prune_dirs("period_end_date", "2023-05", "2024-05")) == 2
    # no overlap at all -> zero dirs, empty (but well-formed) result
    assert len(t.prune_dirs("period_end_date", "2025-01", "2025-12")) == 0
    assert t.read_where("period_end_date", "2025-01", "2025-12").count() == 0

    got = {r["ticker"] for r in
           t.read_where("period_end_date", "2024-01", "2024-12").collect()}
    assert got == {"MSFT"}
    # residual filter still applies INSIDE the surviving dir
    one = t.read_where("period_end_date", "2024-04", "2024-12").collect()
    assert [(r["ticker"], r["period_end_date"]) for r in one] == \
        [("MSFT", "2024-06")]


def test_manifest_stats_carry_over_on_partial_merge(spark, tmp_path):
    # a merge touching one partition must re-reference the other dir AND
    # its stats; pruning on the untouched range keeps working
    t = ManagedTable(spark, str(tmp_path / "skip2"),
                     partition_by=["record_type"],
                     cluster_by=["period_end_date"])
    t.create(df_of(spark, [
        ("AAPL", "financials", "2023-03", 1.0),
        ("MSFT", "metadata", "2024-03", 3.0)], SCHEMA))
    t.merge(df_of(spark, [("AAPL", "financials", "2023-09", 9.0)], SCHEMA),
            ["ticker", "record_type", "period_end_date"])

    stats = t._read_stats(t.latest_version())
    assert len(stats) == 2  # untouched metadata partition's stats survived
    assert len(t.prune_dirs("period_end_date", "2024-01", "2024-12")) == 1
    # merged partition's stats widened to include the new row
    fin = t.prune_dirs("period_end_date", "2023-07", "2023-12")
    assert len(fin) == 1
    rows = t.read_where("period_end_date", "2023-07", "2023-12").collect()
    assert [(r["ticker"], r["revenue"]) for r in rows] == [("AAPL", 9.0)]


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


def test_stats_absent_column_never_prunes(spark, tmp_path):
    # a column with no recorded stat must always be kept (skip-safety)
    t = ManagedTable(spark, str(tmp_path / "skip3"),
                     cluster_by=["period_end_date"])
    t.create(df_of(spark, [("AAPL", "financials", "2023-03", 1.0)], SCHEMA))
    assert len(t.prune_dirs("revenue", 100.0, 200.0)) == 1


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
