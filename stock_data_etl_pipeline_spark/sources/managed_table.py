"""Versioned parquet table with MERGE — Delta-Lake-shaped storage layer.

This is the engine's only table implementation. It keeps the operator
surface of a Delta table on plain parquet; nothing branches on
``session.HAS_DELTA``, which only configures the session when delta-spark
happens to be installed:

    tbl = ManagedTable(spark, path, partition_by=["record_type"])
    tbl.create(df)                      # first write; raises if it exists (S5)
    tbl.merge(batch, keys=[...])        # null-safe upsert (S6/J4/M6)
    tbl.read()                          # latest snapshot, pushdown-able (S7)
    tbl.read(version=3)                 # time travel
    tbl.read_where("ticker", "A", "M")  # range read served on the driver
    tbl.vacuum(keep_last=2)             # drop unreferenced data dirs

    ctl = ManagedTable(spark, path, schema=RUNS)
    ctl.read()                          # typed empty frame before any commit
    base, rows = ctl.read_arrow()       # latest version + rows, on the driver
    ctl.write_rows(dicts, base)         # the whole table, on the driver
    ctl.append(dicts)                   # blind insert of new rows

Layout — manifest-per-version, like a miniature Delta transaction log:

    <path>/_LATEST                      atomic pointer {"version": N}
    <path>/manifests/v=N.json           {partition-key -> data dir} and
                                        {partition-key -> row count}
                                        maps, plus the table schema
    <path>/data/<uuid>/_pk=<key>/       immutable per-partition parquet dirs

One write per commit: ``partitionBy`` on a hidden JSON column of the
partition values writes one fresh ``data/<uuid>/``, and the manifest names
each ``_pk=<key>`` subdir as a partition's data dir, as Delta's log names
the files of one job (an unpartitioned table is the one partition ``{}``).
The partition columns stay in the files: each subdir is self-contained.
The write first rebalances on that column, as Delta's optimized write
does: AQE puts each partition's rows in one task and splits a partition
only past ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, so a subdir
holds one file, fully sorted by ``cluster_by``, however many slices the
source had. The rebalance is one shuffle stage (and job) before the write
job; a read then opens one file per partition, not one per source slice.
A commit of rows that are already on the driver (``write_rows``, and
``append`` through it) is written there instead, as Delta writes its log
on the driver: the rows pass the checks ``createDataFrame`` makes, become
one Arrow table, and each partition's rows land in one parquet file under
the same ``data/<uuid>/_pk=<key>/`` layout and manifest body, with no
Spark job.

Every read resolves _LATEST and the version's manifest, then reads the
manifest's data dirs under its schema, so opening a table infers nothing
and starts no Spark job (Delta likewise keeps the schema in its log).
``read()`` is one lazy, distributed parquet scan; merges, the metadata
sync, the catalog and ``optimize`` read through it. ``read_where`` reads
its range on the driver instead, as delta-rs and Polars read a Delta
table (SURVEY §S7): one Arrow dataset over the version's parquet files,
filtered to the range, handed to Spark as a local relation, so the
request launches no Spark job, and ``read_arrow`` reads a whole small
table the same way, returning Arrow rows and the version they belong to.
Every path needs every dir of a version to store each column with the
manifest's type; a dir that lacks a column reads it as NULL.

One snapshot per commit: ``read()`` resolves _LATEST and the manifest on
every call, so it is never stale, but it hands back the SAME DataFrame for
as long as the manifest's data dirs are unchanged (Delta likewise serves
one snapshot per table version). The key is the sorted dir tuple, not the
version number: dirs are uuid-named and never reused, so a table dropped
and re-created at version 0 cannot hit an old entry, and a retype rewrites
every dir, so the dirs also fix the schema.

A ``SnapshotView`` carries the same keying to a small value derived from
some tables (a join or a latest row per key held on the driver as a local
relation through ``driver_local``, or a table kept sorted in the order it
is paged in, as an Arrow table): it holds what its build returns and
rebuilds it only when one of its tables' ``snapshot_key()`` moves, so a
request reads it with no Spark job and is never served rows older than
the tables' latest commits. A view holds every row its build returns,
with no bound: its driver memory and its rebuild after each commit grow
with those rows, and so does the optimizer time of every plan over a
local relation.

A table built with ``schema=`` owns its schema: before its first commit
``read()`` returns an empty frame of that schema, with no Spark job, and
``read_arrow()`` an empty Arrow table of it, so a caller has one read path
whether or not the table exists yet. The stock
lake declares one for each control table; without it, reading a missing
table raises, as before.

A merge rewrites ONLY the partitions the source batch touches: untouched
partitions keep their existing data directories, and the new manifest
simply re-references them — version commit cost is O(touched data +
one small JSON), not O(table). This is the same idea as Delta's MERGE
(join finds touched files, only those rewrite, the log re-references the
rest). Readers resolve _LATEST then the manifest, so a crashed writer
leaves only orphan data dirs — never a torn table.

An append is the blind insert of driver rows that are new by
construction (fresh ids): the latest version read as Arrow, the rows
concatenated to it, and the whole table written on the driver. It has no
key dedup and no per-key window, and it launches no Spark job. Delta
likewise makes a blind append its own commit type. The stock lake's
control tables commit only this way.

Concurrency: commit is compare-and-swap. ``merge`` and ``append`` commit at
the version they read + 1, ``write_rows`` at the version its caller read
+ 1, and the per-version manifest file is created
with O_EXCL, so of two writers that both computed against version N,
exactly one creates ``v=N+1.json``; the loser raises
ConcurrentModificationError before the pointer moves — surfacing the
conflict the way the reference does (partial unique constraint ->
IntegrityError -> 409, /root/reference/services/api/models.py:386-399 and
views/ingestion_runs.py:95-114; its delta worker additionally serializes
writes, queue_for_delta.py:21-23). The loser's data dirs become orphans
for vacuum, never part of the table.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable, Sequence
from typing import Any
from functools import reduce
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

from ..operators.filters import arrow_filter
from ..operators.merge import align_schemas, merge_upsert

_PK = "_pk"  # hidden write column: a row's partition values as JSON
# a manifest's body: per-partition data dir and row count, table schema
_BODY = ("partitions", "rows", "schema")


class TableExistsError(RuntimeError):
    pass


class ConcurrentModificationError(RuntimeError):
    """Another writer committed the version this operation targeted
    (Delta's ConcurrentModificationException / the reference's 409)."""


def _part_key(values: dict) -> str:
    return json.dumps(values, sort_keys=True, default=str)


def _pk_col(partition_by: Sequence[str]) -> Column:
    """A row's partition values as JSON, never null (a null is ``null``)."""
    return F.to_json(F.struct(*partition_by), {"ignoreNullFields": "false"})


def _files(path: str) -> list[str]:
    """The parquet files of the data dir at ``path``."""
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                            recursive=True))


def _dir_rows(path: str) -> int:
    """Row count of the data dir at ``path``, summed from its parquet
    footers — metadata-only, a handful of footers per commit."""
    return sum(pq.read_metadata(f).num_rows for f in _files(path))


def _schema(manifest: dict) -> T.StructType:
    return T.StructType.fromJson(manifest["schema"])


def _dirs(manifest: dict) -> tuple[str, ...]:
    """A version's sorted data dirs: its snapshot key (module docstring)."""
    return tuple(sorted(manifest["partitions"].values()))


def _retypes(old: T.StructType, new: T.StructType) -> bool:
    """True when ``new`` holds a column of ``old`` with another type."""
    types = {f.name: f.dataType.simpleString() for f in new.fields}
    return any(f.name in types and types[f.name] != f.dataType.simpleString()
               for f in old.fields)


class ManagedTable:
    def __init__(self, spark: SparkSession, path: str,
                 partition_by: Sequence[str] = (),
                 cluster_by: Sequence[str] = (),
                 schema: T.StructType | None = None) -> None:
        """``cluster_by``: sort rows within files on these columns at write
        time (Z-ORDER-lite) — a filter on those columns pushed into the
        scan then skips row groups by their parquet min/max stats, the
        analog of the reference's OPTIMIZE/Z-ORDER on (ticker,
        period_end_date) (SURVEY §4 index-backed access paths).
        ``schema``: what ``read()`` returns, empty, before the first
        commit, and what ``write_rows`` checks and writes rows under."""
        self.spark = spark
        self.path = path
        self.partition_by = list(partition_by)
        self.cluster_by = list(cluster_by)
        self.schema = schema
        # (sorted data dirs, DataFrame) of the latest snapshot read; the
        # lock makes check-and-swap atomic for a reader and a writer
        # sharing this table
        self._snapshot: tuple[tuple[str, ...], DataFrame] | None = None
        self._lock = threading.Lock()

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

    def snapshot_key(self) -> tuple[str, ...] | None:
        """Key of the latest snapshot, the one ``read()`` serves: its
        sorted data dirs, or None before the first commit. Equal keys mean
        equal contents. Reads _LATEST and the manifest; no Spark job."""
        return _dirs(self.commit_meta()) if self.exists() else None

    def num_rows(self, version: int | None = None) -> int:
        """Row count of a version (0 before the first commit), summed from
        its manifest — no data or footer read, no Spark job."""
        if not self.exists():
            return 0
        return sum(self.commit_meta(version)["rows"].values())

    def _commit(self, version: int, body: dict, meta: dict) -> None:
        os.makedirs(os.path.dirname(self._manifest_path(version)), exist_ok=True)
        try:
            # CAS: O_EXCL create of the version manifest. Both of two racing
            # writers computed against version-1; only the first create
            # succeeds, the other surfaces the conflict (no blind overwrite,
            # no silently orphaned winner).
            with open(self._manifest_path(version), "x") as fh:
                json.dump({**body, "committed_at": time.time(), **meta}, fh)
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
    def _next_version(self) -> int:
        return self.latest_version() + 1 if self.exists() else 0

    def _body(self, d: str, schema: T.StructType) -> dict:
        """The manifest body (``_BODY``) of a write to ``d``: its
        ``_pk=<key>`` subdirs and their footer row counts, keyed by
        ``_part_key``, and ``schema``."""
        body: dict = {"partitions": {}, "rows": {},
                      "schema": schema.jsonValue()}
        for sub in os.listdir(os.path.join(self.path, d)):
            if sub.startswith(f"{_PK}="):
                pk = _part_key(json.loads(unquote(sub[len(_PK) + 1:])))
                body["partitions"][pk] = f"{d}/{sub}"
                body["rows"][pk] = _dir_rows(os.path.join(self.path, d, sub))
        return body

    def _write_partition_dirs(self, df: DataFrame) -> dict:
        """Write df in one rebalance and one write job, a ``_pk=<key>``
        subdir of one file per partition (see the module docstring),
        clustered if ``cluster_by`` is set. Returns
        the manifest body (``_BODY``) with df's schema. A zero-row df
        writes no subdir."""
        cols = [c for c in self.cluster_by if c in df.columns]
        d = f"data/{uuid.uuid4().hex[:16]}"
        # _PK leads the sort: the writer needs rows grouped by it, so it
        # adds no sort of its own that would undo the clustering
        (df.withColumn(_PK, _pk_col(self.partition_by))
           .hint("rebalance", _PK)
           .sortWithinPartitions(_PK, *cols)
           .write.partitionBy(_PK).parquet(os.path.join(self.path, d)))
        return self._body(d, df.schema)

    def _write_arrow(self, table: pa.Table, schema: T.StructType) -> dict:
        """``_write_partition_dirs`` on the driver: ``table`` in one file
        per ``_pk=<key>`` subdir, sorted by ``cluster_by``, with no Spark
        job. Returns the manifest body with ``schema``."""
        d = f"data/{uuid.uuid4().hex[:16]}"
        os.makedirs(os.path.join(self.path, d))
        # one chunk: the writer makes a row group, and a dictionary, of each
        table = table.combine_chunks()
        cols = [(c, "ascending") for c in self.cluster_by if c in schema.names]
        if cols:
            table = table.sort_by(cols)
        # the JSON of a row's partition values, as _pk_col makes it (the
        # same for strings, numbers and dates)
        keys = [json.dumps(v, default=str)
                for v in table.select(self.partition_by).to_pylist()]
        ds.write_dataset(table.append_column(_PK, pa.array(keys, pa.string())),
                         os.path.join(self.path, d), format="parquet",
                         partitioning=[_PK], partitioning_flavor="hive",
                         use_threads=False)  # keeps the rows in order
        return self._body(d, schema)

    def _read_body(self, version: int) -> dict:
        m = self.commit_meta(version)
        return {k: m[k] for k in _BODY}

    def optimize(self) -> None:
        """Compaction (the OPTIMIZE analog): rewrite the CURRENT version,
        one file per partition, and commit it. Streaming micro-batch merges
        produce many small files; this folds them."""
        if not self.exists():
            return
        version = self.latest_version()
        body = self._read_body(version)
        table = self._scan(sorted(body["partitions"].values()), _schema(body))
        self._commit(version + 1, self._write_partition_dirs(table),
                     {"op": "optimize"})

    def create(self, df: DataFrame) -> None:
        """First write; raises TableExistsError on an existing table, as
        delta-rs mode=error does (S5)."""
        if self.exists():
            raise TableExistsError(self.path)
        self._commit(self._next_version(), self._write_partition_dirs(df),
                     {"op": "create"})

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> None:
        """Full-table replace, one commit (version 0 on a missing table).
        ``meta`` keys land in the commit manifest atomically with the data
        — e.g. a streaming maintainer's epoch id, so replay detection and
        the fold commit can't diverge."""
        body = self._write_partition_dirs(df)
        self._commit(self._next_version(), body,
                     {"op": "overwrite", **(meta or {})})

    def write_rows(self, rows: Sequence[dict], base: int | None,
                   head: pa.Table | None = None) -> None:
        """Commit ``head``'s rows, then ``rows``, as the whole table at
        version ``base`` + 1 (0 for a ``base`` of None), written on the
        driver with no Spark job: an append when ``head`` is given, else an
        overwrite. ``base`` is the version the caller's rows derive from
        (``read_arrow``), so a commit made since raises
        ConcurrentModificationError instead of being overwritten.

        The rows are dicts keyed by column name. They pass the checks
        ``createDataFrame`` makes (a null in a non-nullable column, or a
        value its type does not accept, raises before anything is written)
        and convert as it converts them: a naive datetime is local time, an
        aware one its instant. The schema is the declared one, else
        ``base``'s."""
        schema = (self.schema if self.schema is not None
                  else _schema(self.commit_meta(base)))
        verify = _make_type_verifier(schema)  # createDataFrame's row check
        for r in rows:
            verify(r)
        arrow = to_arrow_schema(schema)
        # pyarrow would take an aware datetime's wall clock as UTC and
        # truncate 1.5 into a long: build the columns from Spark's internal
        # values (epoch microseconds, days) instead
        internal = [schema.toInternal(r) for r in rows]
        table = pa.Table.from_arrays(
            [pa.array([r[i] for r in internal], f.type)
             for i, f in enumerate(arrow)], schema=arrow)
        if head is not None:
            table = pa.concat_tables([head.cast(arrow), table])
        self._commit(0 if base is None else base + 1,
                     self._write_arrow(table, schema),
                     {"op": "overwrite" if head is None else "append"})

    def append(self, rows: Sequence[dict]) -> None:
        """Commit the latest version plus ``rows`` at the version read + 1,
        as ``merge`` does, on the driver (``write_rows``); creates on a
        missing table with a declared schema. ``rows`` must be new:
        nothing is deduplicated."""
        base, table = self.read_arrow()
        self.write_rows(rows, base, head=table)

    def merge(self, source: DataFrame, keys: Sequence[str]) -> None:
        """Null-safe update_all/insert_all upsert; creates on first call.

        Only partitions present in the source are read (with the full
        table schema), merged and rewritten; every other partition's data
        dir carries over into the new manifest untouched. Partition columns
        must be part of the merge key for this pruning to be sound (they
        are for the silver table: record_type ⊂ (ticker, record_type,
        period_end_date)); otherwise the merge rewrites the whole table.
        So does a merge whose result changes an existing column's type: an
        untouched dir would still store the old type, and the one scan
        needs every dir of a version to agree with the manifest schema.
        """
        if not self.exists():
            self.create(source)
            return
        version = self.latest_version()
        old = self._read_body(version)
        parts, schema = old["partitions"], _schema(old)
        # a source column that holds no value must not decide a column's
        # type (the transform types an all-null column string): drop it,
        # and the merge null-fills it with the table's type — same rows.
        # Costs one job, only when a source column's type differs.
        clash = [f.name for f in source.schema.fields if f.name in
                 schema.names and f.dataType != schema[f.name].dataType]
        if clash:
            counts = source.select(*[F.count(F.col(c)) for c in clash]).first()
            source = source.drop(*[c for c, n in zip(clash, counts) if n == 0])
        keep: list[str] = []
        if self.partition_by and all(p in keys for p in self.partition_by):
            touched = {_part_key(json.loads(r[0])) for r in source.select(
                _pk_col(self.partition_by)).distinct().collect()}
            keep = [pk for pk in parts if pk not in touched]

        def merged_over(pks) -> DataFrame:
            target = self._scan(sorted(parts[pk] for pk in pks), schema)
            return merge_upsert(target, source, keys)

        merged = merged_over(pk for pk in parts if pk not in keep)
        if keep and _retypes(schema, merged.schema):
            keep = []
            merged = merged_over(parts)
        body = self._write_partition_dirs(merged)
        # untouched dirs are re-referenced as-is, row counts too
        for k in ("partitions", "rows"):
            body[k] = {**{pk: old[k][pk] for pk in keep}, **body[k]}
        self._commit(version + 1, body, {"op": "merge", "keys": list(keys)})

    # -- read path ----------------------------------------------------------
    def _empty(self, schema: T.StructType) -> DataFrame:
        # limit(0) plans as an empty local relation: collecting it, or a
        # filter or join over it, starts no Spark job
        return self.spark.createDataFrame([], schema).limit(0)

    def _scan(self, dirs: Sequence[str], schema: T.StructType) -> DataFrame:
        return self.spark.read.schema(schema).parquet(
            *(os.path.join(self.path, d) for d in dirs))

    def _resolve(self, version: int | None) -> tuple[tuple[str, ...],
                                                     T.StructType]:
        """The data dirs and schema of ``version`` (default latest), from
        _LATEST and its manifest. Before the first commit, a table with a
        declared schema has no dirs and that schema."""
        if version is None and self.schema is not None and not self.exists():
            return (), self.schema
        m = self.commit_meta(version)
        return _dirs(m), _schema(m)

    def _dataset(self, dirs: Sequence[str],
                 schema: T.StructType) -> ds.Dataset:
        """The parquet files of ``dirs`` as one Arrow dataset under
        ``schema``, for reads served on the driver (as delta-rs and Polars
        read a Delta table). A dir that lacks a column reads it as null,
        as the Spark scan does. INT96 timestamps decode as microseconds,
        Spark's unit, so no date overflows nanoseconds."""
        files = [f for d in dirs for f in _files(os.path.join(self.path, d))]
        fmt = ds.ParquetFileFormat(
            read_options={"coerce_int96_timestamp_unit": "us"})
        return ds.dataset(files, schema=to_arrow_schema(schema), format=fmt)

    def read(self, version: int | None = None) -> DataFrame:
        """The snapshot of ``version`` (default latest). The pointer and
        manifest are read on every call; the DataFrame is reused while the
        version's data dirs equal the last latest read's, so repeated
        reads of one commit skip file listing and planning. A time-travel
        read that misses builds a fresh scan and leaves the slot alone.
        Before the first commit, a table with a declared schema reads as
        its empty frame."""
        dirs, schema = self._resolve(version)
        if not dirs:  # no commit yet, or a zero-row one: nothing to scan
            return self._empty(schema)
        with self._lock:
            if self._snapshot is not None and self._snapshot[0] == dirs:
                return self._snapshot[1]
            df = self._scan(dirs, schema)
            if version is None:
                self._snapshot = (dirs, df)
            return df

    def read_arrow(self, filter: ds.Expression | None = None
                   ) -> tuple[int | None, pa.Table]:
        """The latest version and its rows (those matching ``filter``) as an
        Arrow table, read on the driver with no Spark job; before the first
        commit, None and an empty table of the declared schema. The version
        is the ``base`` for a ``write_rows`` of rows derived from these."""
        version = self.latest_version() if self.exists() else None
        dirs, schema = self._resolve(version)
        return version, self._dataset(dirs, schema).to_table(filter=filter)

    def read_where(self, col: str, lo=None, hi=None,
                   version: int | None = None) -> DataFrame:
        """The rows of ``version`` (default latest) with ``lo <= col <=
        hi``, either bound optional, read on the driver and returned as a
        local relation: a filter, projection or collect over it launches
        no Spark job. The manifest is resolved as ``read()`` resolves it,
        so the read is never stale. The range is an Arrow dataset filter,
        which skips row groups whose parquet min/max cannot meet it
        (``cluster_by`` writes sorted files). Bounds convert as ``F.lit``
        converts them; one that does not fit the column's type raises
        TypeError before any file is read.

        Every row in the range, all columns, passes through driver memory,
        so the range bounds the cost: in a 4-core probe over a 150,000-row
        table, a range of 15,000 rows cost the Spark scan's CPU and a
        wider one more. Past 48 MB of Arrow data (Spark's
        ``spark.sql.execution.arrow.localRelationThreshold``), Spark ships
        the rows as an RDD and a collect runs a job. A caller that needs a
        distributed scan of a large range uses ``read().filter(...)``."""
        dirs, schema = self._resolve(version)
        cond = arrow_filter(schema, [(col, op, b) for op, b in
                                     (("gte", lo), ("lte", hi)) if b is not None])
        if not dirs:
            return self._empty(schema)
        table = self._dataset(dirs, schema).to_table(filter=cond)
        return self.spark.createDataFrame(table, schema)

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
        every ``data/<uuid>`` that no surviving manifest references."""
        latest = self.latest_version()
        keep_versions = [v for v in range(max(0, latest - keep_last + 1),
                                          latest + 1)
                         if os.path.exists(self._manifest_path(v))]
        # a data dir is data/<uuid>/_pk=<key>
        referenced = {"/".join(d.split("/")[:2]) for v in keep_versions
                      for d in self._read_manifest(v).values()}
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


def driver_local(df: DataFrame) -> DataFrame:
    """``df``'s rows as a relation held on the driver: one Arrow collect,
    then a ``LocalRelation``. The optimizer folds a filter or projection
    over it into the relation, so collecting either launches no Spark job.
    Every row lives in driver memory, with no bound, and every plan over
    the relation walks all of its rows in the optimizer (about 0.6 µs a
    row on 4 cores), so a plan costs time linear in ``df``'s size: for
    small derived views, such as those that grow with the stocks. A view
    that grows with the runs holds Arrow rows instead and builds no plan
    over them. A df that already plans as one (a view over a table not yet
    committed) is returned as it is: the Arrow collect would launch a job
    even then."""
    plan = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    if plan.getClass().getSimpleName() == "LocalRelation":
        return df
    return df.sparkSession.createDataFrame(df.toArrow(), df.schema)


class SnapshotView:
    """A small value derived from ``tables``, held on the driver and
    rebuilt by ``build`` only when one of the tables' ``snapshot_key()``
    moves, whichever handle committed. The view holds whatever ``build``
    returns: a DataFrame view makes its rows driver-local in its build
    (``driver_local``), an Arrow view returns a ``pyarrow.Table``.
    ``read()`` reads the keys (_LATEST and a manifest per table, no Spark
    job) before the build reads the tables, so a view is never older than
    the keys it is stored under. The first ``read()`` builds; ``builds``
    counts the builds."""

    def __init__(self, build: Callable[[], Any],
                 tables: Sequence[ManagedTable]) -> None:
        self.build = build
        self.tables = tuple(tables)
        self.builds = 0
        # (snapshot keys, built value); the lock makes check-and-swap
        # atomic, as in ManagedTable
        self._view: tuple[tuple, Any] | None = None
        self._lock = threading.Lock()

    def read(self) -> Any:
        key = tuple(t.snapshot_key() for t in self.tables)
        with self._lock:
            if self._view is None or self._view[0] != key:
                self._view = (key, self.build())
                self.builds += 1
            return self._view[1]
