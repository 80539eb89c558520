"""Versioned parquet table with MERGE — Delta-Lake-shaped storage layer.

When `delta-spark` is importable we use the real thing (see
``session.HAS_DELTA``); this fallback keeps the same operator surface on
plain parquet so the engine runs anywhere:

    tbl = ManagedTable(spark, path, partition_by=["record_type"])
    tbl.create(df)                      # mode=error first write (S5)
    tbl.merge(batch, keys=[...])        # null-safe upsert (S6/J4/M6)
    tbl.read()                          # latest snapshot, pushdown-able (S7)
    tbl.read(version=3)                 # time travel
    tbl.vacuum(keep_last=2)             # drop unreferenced data dirs

Layout — manifest-per-version, like a miniature Delta transaction log:

    <path>/_LATEST                      atomic pointer {"version": N}
    <path>/manifests/v=N.json           {partition-key -> data dir} map,
                                        plus per-dir stats and row counts
    <path>/data/<uuid>/                 immutable per-partition parquet dirs

A merge rewrites ONLY the partitions the source batch touches: untouched
partitions keep their existing data directories, and the new manifest
simply re-references them — version commit cost is O(touched data +
one small JSON), not O(table). This is the same idea as Delta's MERGE
(join finds touched files, only those rewrite, the log re-references the
rest). Readers resolve _LATEST then the manifest, so a crashed writer
leaves only orphan data dirs — never a torn table.

Concurrency: commit is compare-and-swap. The per-version manifest file is
created with O_EXCL, so of two writers that both computed against version
N, exactly one creates ``v=N+1.json``; the loser raises
ConcurrentModificationError before the pointer moves — surfacing the
conflict the way the reference does (partial unique constraint ->
IntegrityError -> 409, /root/reference/services/api/models.py:386-399 and
views/ingestion_runs.py:95-114; its delta worker additionally serializes
writes, queue_for_delta.py:21-23). The loser's data dirs become orphans
for vacuum, never part of the table.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import align_schemas, merge_upsert

_ALL = "__all__"  # manifest key for unpartitioned tables
# per-partition maps of a manifest: data dir, {col: [min, max]}, row count
_MAPS = ("partitions", "stats", "rows")


class TableExistsError(RuntimeError):
    pass


class ConcurrentModificationError(RuntimeError):
    """Another writer committed the version this operation targeted
    (Delta's ConcurrentModificationException / the reference's 409)."""


def _part_key(values: dict) -> str:
    return json.dumps(values, sort_keys=True, default=str)


def _stat_val(v):
    """Canonical JSON-safe form for a min/max stat. ISO strings for
    date/datetime keep lexicographic order == chronological order, so the
    same comparison works after the manifest round-trips through JSON."""
    import datetime
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) \
            else v.isoformat()
    return v


def _dir_footer_stats(path: str, cols: Sequence[str]) -> tuple[dict[str, list], int]:
    """Per-column [min, max] and the row count over the parquet footers
    under ``path`` — metadata-only, a handful of footers per commit (the
    analog of Delta writing per-file stats into its log). Columns without
    footer stats are omitted: readers treat a missing stat as 'cannot prune'."""
    import glob as _glob

    import pyarrow.parquet as pq

    out: dict[str, list] = {}
    n_rows = 0
    for f in sorted(_glob.glob(os.path.join(path, "**", "*.parquet"),
                               recursive=True)):
        md = pq.ParquetFile(f).metadata
        n_rows += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            names = [rg.column(i).path_in_schema
                     for i in range(rg.num_columns)]
            for c in cols:
                if c not in names:
                    continue
                st = rg.column(names.index(c)).statistics
                if st is None or not st.has_min_max:
                    continue
                lo, hi = _stat_val(st.min), _stat_val(st.max)
                if c in out:
                    out[c] = [min(out[c][0], lo), max(out[c][1], hi)]
                else:
                    out[c] = [lo, hi]
    return out, n_rows


def _to_maps(written: dict[str, tuple[str, dict, int]]) -> dict[str, dict]:
    """{partition: (dir, stats, rows)} -> the manifest's three maps."""
    return {k: {pk: w[i] for pk, w in written.items()}
            for i, k in enumerate(_MAPS)}


class ManagedTable:
    def __init__(self, spark: SparkSession, path: str,
                 partition_by: Sequence[str] = (),
                 cluster_by: Sequence[str] = ()) -> None:
        """``cluster_by``: sort rows within files on these columns at write
        time (Z-ORDER-lite) — parquet row-group min/max stats then let
        point/range reads on those columns skip row groups, the analog of
        the reference's OPTIMIZE/Z-ORDER on (ticker, period_end_date)
        (SURVEY §4 index-backed access paths)."""
        self.spark = spark
        self.path = path
        self.partition_by = list(partition_by)
        self.cluster_by = list(cluster_by)

    # -- pointer / manifest -------------------------------------------------
    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_LATEST")

    def exists(self) -> bool:
        return os.path.exists(self._pointer)

    def latest_version(self) -> int:
        with open(self._pointer) as fh:
            return json.load(fh)["version"]

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, "manifests", f"v={version:06d}.json")

    def _read_manifest(self, version: int) -> dict[str, str]:
        return self.commit_meta(version)["partitions"]

    def commit_meta(self, version: int | None = None) -> dict:
        """Full commit-manifest record for ``version`` (default latest) —
        op, committed_at, plus any caller meta attached via
        ``overwrite(meta=...)`` (e.g. a maintainer's epoch id)."""
        v = self.latest_version() if version is None else version
        with open(self._manifest_path(v)) as fh:
            return json.load(fh)

    def _read_stats(self, version: int) -> dict[str, dict[str, list]]:
        """Per-partition {col: [min, max]} recorded at commit time; empty
        for manifests written before stats existed (no pruning, still
        correct)."""
        return self.commit_meta(version).get("stats", {})

    def _read_maps(self, version: int) -> dict[str, dict]:
        """Copies of a manifest's per-partition maps, to re-reference."""
        m = self.commit_meta(version)
        return {k: dict(m[k]) for k in _MAPS}

    def num_rows(self, version: int | None = None) -> int:
        """Row count of a version (0 before the first commit), summed from
        its manifest — no data or footer read, no Spark job."""
        if not self.exists():
            return 0
        return sum(self.commit_meta(version)["rows"].values())

    def _commit(self, version: int, maps: dict[str, dict], meta: dict) -> None:
        os.makedirs(os.path.dirname(self._manifest_path(version)), exist_ok=True)
        try:
            # CAS: O_EXCL create of the version manifest. Both of two racing
            # writers computed against version-1; only the first create
            # succeeds, the other surfaces the conflict (no blind overwrite,
            # no silently orphaned winner).
            with open(self._manifest_path(version), "x") as fh:
                json.dump({**maps, "committed_at": time.time(), **meta}, fh)
        except FileExistsError:
            raise ConcurrentModificationError(
                f"{self.path}: version {version} was committed by another "
                f"writer since this operation read the table") from None
        # writer-unique tmp name: a losing writer's leftover tmp must never
        # collide with the winner's pointer swap
        tmp = f"{self._pointer}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": version}, fh)
        os.replace(tmp, self._pointer)  # atomic pointer swap, commit point

    # -- write paths --------------------------------------------------------
    def _write_dir(self, df: DataFrame) -> tuple[str, dict[str, list], int]:
        """Write one immutable data dir; returns (dir, cluster_by stats, row
        count), the last two read from its fresh parquet footers."""
        d = f"data/{uuid.uuid4().hex[:16]}"
        df.write.mode("overwrite").parquet(os.path.join(self.path, d))
        return (d, *_dir_footer_stats(os.path.join(self.path, d),
                                      self.cluster_by))

    def _write_partition_dirs(self, df: DataFrame) -> dict[str, dict]:
        """Write df as one immutable data dir per partition value; the
        partition columns stay IN the data (no directory encoding), so each
        dir is independently readable and schema evolution is per-dir.
        Returns the manifest's per-partition maps (see ``_MAPS``)."""
        if self.cluster_by:
            cols = [c for c in self.cluster_by if c in df.columns]
            if cols:
                df = df.sortWithinPartitions(*cols)
        if not self.partition_by:
            return _to_maps({_ALL: self._write_dir(df)})
        values = [r.asDict() for r in df.select(*self.partition_by).distinct().collect()]
        written = {}
        for v in values:
            pred = reduce(lambda a, b: a & b,
                          [F.col(k).eqNullSafe(F.lit(val)) for k, val in v.items()])
            written[_part_key(v)] = self._write_dir(df.filter(pred))
        return _to_maps(written)

    def optimize(self, target_partitions: int = 1) -> None:
        """Compaction (the OPTIMIZE analog): rewrite every partition of
        the CURRENT version into ``target_partitions`` files (clustered if
        cluster_by is set) and commit as a new version. Streaming
        micro-batch merges produce many small files; this folds them."""
        if not self.exists():
            return
        version = self.latest_version()
        manifest = self._read_manifest(version)
        written = {}
        for pk, d in manifest.items():
            df = self.spark.read.parquet(os.path.join(self.path, d)) \
                .coalesce(target_partitions)
            if self.cluster_by:
                cols = [c for c in self.cluster_by if c in df.columns]
                if cols:
                    df = df.sortWithinPartitions(*cols)
            written[pk] = self._write_dir(df)
        self._commit(version + 1, _to_maps(written), {"op": "optimize"})

    def create(self, df: DataFrame, mode: str = "error") -> None:
        """First write. mode='error' mirrors delta-rs mode=error (S5)."""
        if self.exists():
            if mode == "error":
                raise TableExistsError(self.path)
            if mode == "ignore":
                return
        os.makedirs(self.path, exist_ok=True)
        version = self.latest_version() + 1 if self.exists() else 0
        self._commit(version, self._write_partition_dirs(df), {"op": "create"})

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> None:
        """Full-table replace. ``meta`` keys land in the commit manifest
        atomically with the data — e.g. a streaming maintainer's epoch
        id, so replay detection and the fold commit can't diverge."""
        if not self.exists():
            self.create(df)
            if meta:  # re-commit manifest with the caller's meta attached
                v = self.latest_version()
                self._commit(v + 1, self._read_maps(v),
                             {"op": "overwrite", **meta})
        else:
            maps = self._write_partition_dirs(df)
            self._commit(self.latest_version() + 1, maps,
                         {"op": "overwrite", **(meta or {})})

    def merge(self, source: DataFrame, keys: Sequence[str],
              dedup_source_order: Sequence[Column] | None = None) -> None:
        """Null-safe update_all/insert_all upsert; creates on first call.

        Only partitions present in the source are read, merged and
        rewritten; every other partition's data dir carries over into the
        new manifest untouched. Partition columns must be part of the merge
        key for this pruning to be sound (they are for the silver table:
        record_type ⊂ (ticker, record_type, period_end_date)); otherwise
        the merge falls back to a full-table rewrite.
        """
        if not self.exists():
            self.create(source if dedup_source_order is None
                        else source.dropDuplicates(list(keys)))
            return
        version = self.latest_version()
        manifest = self._read_manifest(version)
        prunable = bool(self.partition_by) and all(
            p in keys for p in self.partition_by)

        if not self.partition_by:
            merged = merge_upsert(self.read(), source, keys, dedup_source_order)
            maps = self._write_partition_dirs(merged)
        elif prunable:
            touched = [r.asDict() for r in
                       source.select(*self.partition_by).distinct().collect()]
            touched_keys = {_part_key(v) for v in touched}
            # pruning is by manifest key: only dirs whose partition value
            # appears in the source batch are read and merged
            existing_dirs = [d for pk, d in manifest.items() if pk in touched_keys]
            target = (self._read_dirs(existing_dirs) if existing_dirs
                      else source.limit(0))
            merged_touched = merge_upsert(target, source, keys,
                                          dedup_source_order)
            # untouched dirs are re-referenced as-is, stats and counts too
            maps = self._read_maps(version)
            for k, written in self._write_partition_dirs(merged_touched).items():
                maps[k].update(written)
        else:
            merged = merge_upsert(self.read(), source, keys, dedup_source_order)
            maps = self._write_partition_dirs(merged)
        self._commit(version + 1, maps, {"op": "merge", "keys": list(keys)})

    # -- read path ----------------------------------------------------------
    def _read_dirs(self, dirs: Sequence[str]) -> DataFrame:
        dfs = [self.spark.read.parquet(os.path.join(self.path, d)) for d in dirs]
        out = dfs[0]
        for df in dfs[1:]:
            a, b = align_schemas(out, df)  # per-dir schema evolution
            out = a.unionByName(b)
        return out

    def read(self, version: int | None = None) -> DataFrame:
        v = self.latest_version() if version is None else version
        manifest = self._read_manifest(v)
        if not manifest:
            raise ValueError(f"empty table manifest at version {v}")
        return self._read_dirs(sorted(manifest.values()))

    def prune_dirs(self, col: str, lo=None, hi=None,
                   version: int | None = None) -> list[str]:
        """Data dirs that MIGHT hold rows with ``lo <= col <= hi``, by the
        manifest's per-dir min/max — Delta-style file skipping, decided
        from one small JSON with zero data or footer reads. A dir with no
        recorded stat for ``col`` is always kept (skipping must never be
        able to drop a matching row)."""
        v = self.latest_version() if version is None else version
        manifest = self._read_manifest(v)
        stats = self._read_stats(v)
        lo_c = _stat_val(lo) if lo is not None else None
        hi_c = _stat_val(hi) if hi is not None else None
        keep = []
        for pk, d in sorted(manifest.items()):
            mm = stats.get(pk, {}).get(col)
            if mm is not None:
                if hi_c is not None and mm[0] > hi_c:
                    continue
                if lo_c is not None and mm[1] < lo_c:
                    continue
            keep.append(d)
        return keep

    def read_where(self, col: str, lo=None, hi=None,
                   version: int | None = None) -> DataFrame:
        """Range read with manifest-level data skipping: dirs whose
        [min, max] for ``col`` cannot intersect [lo, hi] never enter the
        plan, then the residual filter is applied (and pushed down to the
        surviving files' row groups — cluster_by writes sorted data, so
        row-group stats are tight). At 100 TB this is the difference
        between scanning the table and scanning the handful of data dirs a
        point/range query actually touches."""
        dirs = self.prune_dirs(col, lo, hi, version)
        if not dirs:
            return self.read(version).filter(F.lit(False))
        out = self._read_dirs(dirs)
        if lo is not None:
            out = out.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            out = out.filter(F.col(col) <= F.lit(hi))
        return out

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY analog: one row per surviving version with the
        operation, commit time and partition count, newest first (the
        manifest log IS the history — no extra bookkeeping)."""
        mdir = os.path.join(self.path, "manifests")
        rows = []
        for name in sorted(os.listdir(mdir)):
            v = int(name.split("=")[1].split(".")[0])
            m = self.commit_meta(v)
            rows.append((v, m.get("op"), float(m.get("committed_at", 0.0)),
                         len(m.get("partitions", {}))))
        return self.spark.createDataFrame(
            rows, "version int, op string, committed_at double, "
                  "n_partitions int").orderBy(F.col("version").desc())

    def diff(self, from_version: int, to_version: int | None = None,
             keys: Sequence[str] | None = None,
             include_preimage: bool = False) -> DataFrame:
        """Change-data-feed between two versions: the TO-side image of
        every inserted/updated key plus the FROM-side image of deleted
        keys, tagged ``_change_type`` in {insert, update_postimage,
        delete} — what an incremental consumer applies to stay in sync
        without re-reading the table. ``keys`` defaults to the last
        merge's keys recorded in the TO manifest.
        ``include_preimage=True`` additionally emits each updated key's
        FROM-side image as ``update_preimage`` (full Delta CDF row set —
        required by self-maintainable aggregates, operators/incremental).

        Derived by comparing the two snapshots (null-safe key join +
        row-image struct comparison), so it is O(both snapshots) — at
        100 TB a consumer diffs adjacent versions where partition pruning
        keeps both sides to the touched partitions; the manifest already
        records exactly which dirs changed."""
        to_v = self.latest_version() if to_version is None else to_version
        if keys is None:
            keys = self.commit_meta(to_v).get("keys")
            if not keys:
                raise ValueError(
                    "diff needs keys= (the target manifest records none)")
        old, new = self.read(from_version), self.read(to_v)
        old, new = align_schemas(old, new)
        cols = new.columns
        payload = [c for c in cols if c not in keys]
        o = old.select(F.struct(*keys).alias("_k"),
                       F.struct(*payload).alias("_old"))
        n = new.select(F.struct(*keys).alias("_k"),
                       F.struct(*payload).alias("_new"))
        j = o.join(n, o["_k"].eqNullSafe(n["_k"]), "full_outer")
        change = (F.when(o["_k"].isNull(), F.lit("insert"))
                  .when(n["_k"].isNull(), F.lit("delete"))
                  .when(~o["_old"].eqNullSafe(n["_new"]),
                        F.lit("update_postimage")))
        image = F.when(n["_k"].isNull(), F.struct(o["_k"].alias("k"),
                                                 o["_old"].alias("p"))) \
                 .otherwise(F.struct(n["_k"].alias("k"),
                                     n["_new"].alias("p")))
        changed = (j.withColumn("_change_type", change)
                   .filter(F.col("_change_type").isNotNull()))
        post = (changed.withColumn("_img", image)
                .select(*[F.col(f"_img.k.{k}").alias(k) for k in keys],
                        *[F.col(f"_img.p.{c}").alias(c) for c in payload],
                        "_change_type"))
        if not include_preimage:
            return post
        pre = (changed.filter(F.col("_change_type") == "update_postimage")
               .select(*[o["_k"].getField(k).alias(k) for k in keys],
                       *[o["_old"].getField(c).alias(c) for c in payload],
                       F.lit("update_preimage").alias("_change_type")))
        return post.unionByName(pre)

    def apply_cdf(self, cdf: DataFrame, keys: Sequence[str]) -> None:
        """Replication consumer for ``diff``: apply a change feed to THIS
        table — upsert the insert/update_postimage images, delete the
        deleted keys — so a replica follows a source table version by
        version without ever copying unchanged rows. Preimage rows are
        ignored (they exist for aggregate maintenance, not row state).

        Cost: one merge of the change-set-sized upserts + one anti-join
        for the deletes, partition-pruned like any merge."""
        ups = (cdf.filter(F.col("_change_type")
                          .isin("insert", "update_postimage"))
               .drop("_change_type"))
        dels = (cdf.filter(F.col("_change_type") == "delete")
                .select(*keys))
        if not self.exists():
            self.create(ups)
            return
        version = self.latest_version()
        merged = merge_upsert(self.read(), ups, keys)
        if dels.limit(1).count() > 0:
            cond = reduce(lambda a, b: a & b,
                          [merged[k].eqNullSafe(dels[k]) for k in keys])
            merged = merged.join(dels, cond, "left_anti")
        self._commit(version + 1, self._write_partition_dirs(merged),
                     {"op": "apply_cdf", "keys": list(keys)})

    def vacuum(self, keep_last: int = 2) -> None:
        """Drop manifests older than the newest ``keep_last`` versions and
        every data dir no surviving manifest references."""
        latest = self.latest_version()
        keep_versions = [v for v in range(max(0, latest - keep_last + 1),
                                          latest + 1)
                         if os.path.exists(self._manifest_path(v))]
        referenced: set[str] = set()
        for v in keep_versions:
            referenced.update(self._read_manifest(v).values())
        mdir = os.path.join(self.path, "manifests")
        for name in os.listdir(mdir):
            v = int(name.split("=")[1].split(".")[0])
            if v not in keep_versions:
                os.remove(os.path.join(mdir, name))
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for name in os.listdir(data_root):
                if f"data/{name}" not in referenced:
                    shutil.rmtree(os.path.join(data_root, name),
                                  ignore_errors=True)
