"""Table catalog: partitioned parquet + file-manifest snapshots with
Iceberg-shaped operations (SURVEY.md §7.0).

BASELINE.json's input_hint names Iceberg tables; no Iceberg runtime jar
is available, so this layer offers the same operations
(create/append/merge/read/time-travel/expire) over plain parquet.
Moving to real Iceberg means replacing these calls with a configured
``spark.sql.catalog.<name>`` and its SQL (``MERGE INTO`` etc.); there
is no switch for it here.

The parquet layout follows Iceberg's actual design: the MANIFEST lists
the data files of every snapshot, and commits are an atomic manifest
pointer swap (os.replace). Concretely:

- create_table: directory + JSON manifest (schema, partition spec,
  ``snapshots: {version: [data files]}``)
- append: new files staged then moved in; snapshot v+1 = v's files +
  the new ones. Existing files are NEVER rewritten or deleted.
- merge_by_key: MERGE INTO emulation — last-writer-wins upsert
  materialized as a fresh file set; snapshot v+1 references only the
  new files, v's files remain on disk for time travel.
- read(name, version=...): TIME TRAVEL — any retained snapshot reads
  exactly the file list its manifest recorded (``basePath`` recovers
  partition columns from the directory layout).
- expire_snapshots: drops old snapshot entries and deletes files no
  retained snapshot references (Iceberg's expire_snapshots).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyspark.sql.functions as F  # noqa: F401  (re-exported for callers)
from pyspark.sql import DataFrame, SparkSession

from bisque_spark.sources.bucketed import bucketed_table, write_bucketed


class ParquetCatalog:
    """Directory-of-tables catalog with Iceberg-shaped operations."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest -----------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _data(self, name: str) -> str:
        return os.path.join(self._dir(name), "data")

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_manifest.json")

    def _read_manifest(self, name: str) -> dict:
        with open(self._manifest_path(name)) as f:
            return json.load(f)

    def _write_manifest(self, name: str, manifest: dict) -> None:
        # the commit IS this atomic pointer swap (Iceberg semantics):
        # readers see either the old or the new snapshot, never a mix
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(name))

    def _stage_files(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str],
        bucket_by: list | None = None,
    ) -> list[str]:
        """Write df as a NEW set of immutable data files and return
        their table-relative paths (partition dirs preserved)."""
        staging = os.path.join(self._dir(name), f"_staging-{uuid.uuid4().hex}")
        if bucket_by:
            write_bucketed(df, staging, *bucket_by)
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(staging)
        data = self._data(name)
        files: list[str] = []
        for walk_root, _dirs, fns in os.walk(staging):
            for fn in fns:
                if not fn.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(walk_root, fn), staging)
                dst = os.path.join(data, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(os.path.join(walk_root, fn), dst)
                files.append(rel)
        shutil.rmtree(staging)
        return sorted(files)

    # -- operations ----------------------------------------------------------
    def create_table(
        self,
        name: str,
        schema_ddl: str,
        partition_by: list[str] | None = None,
        stats_key: str | None = None,
        bucket_by: tuple[str, int] | None = None,
    ) -> None:
        """``stats_key``: column whose per-file min/max is recorded in
        the manifest at every commit (Iceberg per-file column stats) —
        lets MERGE prune at FILE granularity inside a partition, not
        just at partition granularity.

        ``bucket_by=(key, n)``: every commit's data files are written
        hash-bucketed (and bucket-sorted) on ``key`` into ``n``
        buckets, recorded in the manifest (Iceberg bucket-transform
        partition spec analogue). :meth:`read_bucketed` then exposes
        any snapshot WITH its bucket distribution, so equi-joins
        between same-bucketed catalog tables plan with zero shuffle
        exchanges — co-located joins now compose with time travel,
        MERGE, and DELETE (VERDICT r5 #6)."""
        if bucket_by and partition_by:
            raise ValueError(
                "bucket_by cannot be combined with partition_by (pick "
                "hash-bucket layout or directory partitioning)"
            )
        os.makedirs(self._data(name), exist_ok=True)
        self._write_manifest(
            name,
            {
                "schema": schema_ddl,
                "partition_by": partition_by or [],
                "stats_key": stats_key,
                "bucket_by": list(bucket_by) if bucket_by else None,
                "version": 0,
                "snapshots": {"0": []},
                "file_stats": {},
            },
        )

    def _record_stats(self, name: str, m: dict, new_files: list[str]) -> None:
        """Per-file min/max of the stats_key for freshly staged files
        (one tiny agg job — Iceberg computes stats at write time)."""
        key = m.get("stats_key")
        if not key or not new_files:
            return
        rows = (
            self._read_files(name, m["schema"], new_files)
            .groupBy(F.input_file_name().alias("__file"))
            .agg(F.min(key).alias("lo"), F.max(key).alias("hi"))
            .collect()
        )
        data = os.path.realpath(self._data(name))
        stats = m.setdefault("file_stats", {})
        for r in rows:
            p = r["__file"]
            if p.startswith("file:"):
                p = p[len("file:"):]
            rel = os.path.relpath(os.path.realpath(p), data)
            stats[rel] = [r["lo"], r["hi"]]

    def exists(self, name: str) -> bool:
        return os.path.exists(self._manifest_path(name))

    def read(
        self,
        name: str,
        version: int | None = None,
        as_of: float | None = None,
    ) -> DataFrame:
        """Current snapshot, TIME TRAVEL to a retained version, or
        ``as_of`` a unix timestamp (Iceberg's TIMESTAMP AS OF): the
        newest retained snapshot committed at or before that instant."""
        m = self._read_manifest(name)
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version OR as_of, not both")
            ts = m.get("committed_at", {})
            eligible = [
                int(v) for v in m["snapshots"]
                if float(ts.get(str(v), 0.0)) <= as_of
            ]
            if not eligible:
                raise ValueError(
                    f"table {name!r} has no snapshot committed at or "
                    f"before {as_of}"
                )
            version = max(eligible)
        v = m["version"] if version is None else version
        try:
            files = m["snapshots"][str(v)]
        except KeyError:
            raise ValueError(
                f"table {name!r} has no snapshot {v} (retained: "
                f"{sorted(int(k) for k in m['snapshots'])})"
            ) from None
        # schema evolution: a snapshot reads with the schema it was
        # committed under (Iceberg time-travel semantics)
        schema = self._schema_for_version(m, v)
        if not files:
            return self.spark.createDataFrame([], schema=schema)
        data = self._data(name)
        return (
            self.spark.read.schema(schema)
            .option("basePath", data)
            .parquet(*[os.path.join(data, f) for f in files])
        )

    def read_bucketed(self, name: str, version: int | None = None) -> DataFrame:
        """A snapshot WITH its bucket distribution visible to Catalyst.

        ``read()`` lists a snapshot's parquet files directly, which
        loses the bucket spec (bucketing lives in table metadata, not
        in the files). This method rebuilds that metadata for exactly
        one snapshot: the snapshot's immutable file list is exposed
        through a directory of hardlinks (file names keep their bucket
        ids) and registered as an EXTERNAL bucketed session table, so
        an equi-join between two same-bucketed catalog snapshots plans
        with zero shuffle exchanges — including time-travel reads and
        post-MERGE/DELETE snapshots (their rewritten files are staged
        bucketed too). Driver cost is O(files) metadata ops, the same
        class as Iceberg manifest handling; no data moves or copies
        (hardlinks share inodes)."""
        import hashlib

        m = self._read_manifest(name)
        bspec = m.get("bucket_by")
        if not bspec:
            raise ValueError(
                f"table {name!r} was not created with bucket_by"
            )
        key, n = bspec
        v = m["version"] if version is None else version
        if str(v) not in m["snapshots"]:
            raise ValueError(
                f"table {name!r} has no snapshot {v} (retained: "
                f"{sorted(int(k) for k in m['snapshots'])})"
            )
        files = m["snapshots"][str(v)]
        schema = self._schema_for_version(m, v)
        view = os.path.join(self._dir(name), f"_bucketview_v{v}")
        data = self._data(name)
        os.makedirs(view, exist_ok=True)
        # snapshot file lists are immutable → an existing link is reusable
        for f in files:
            dst = os.path.join(view, os.path.basename(f))
            if not os.path.exists(dst):
                os.link(os.path.join(data, f), dst)
        tag = hashlib.md5(self.root.encode()).hexdigest()[:6]
        return bucketed_table(
            self.spark, f"{name}_bkt_v{v}_{tag}", view, schema, key, n
        )

    def _commit_lock(self, name: str):
        """Single-writer-per-table lock (O_CREAT|O_EXCL lock file).
        The manifest swap alone is atomic for READERS but a concurrent
        writer pair would read-modify-write the same base version and
        the second commit would orphan the first's files; Iceberg
        solves this with a catalog compare-and-swap — the posix shim
        equivalent is this lock held across stage+commit."""
        import contextlib

        @contextlib.contextmanager
        def lock():
            path = os.path.join(self._dir(name), "_commit.lock")
            deadline = time.time() + 60.0
            while True:
                try:
                    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    break
                except FileExistsError:
                    if time.time() > deadline:
                        raise TimeoutError(
                            f"commit lock for table {name!r} held > 60 s "
                            f"({path})"
                        ) from None
                    time.sleep(0.05)
            try:
                yield
            finally:
                os.close(fd)
                os.remove(path)

        return lock()

    def append(self, name: str, df: DataFrame) -> None:
        with self._commit_lock(name):
            m = self._read_manifest(name)
            new_files = self._stage_files(
                name, df, m["partition_by"], m.get("bucket_by")
            )
            self._record_stats(name, m, new_files)
            prev = m["snapshots"][str(m["version"])]
            m["version"] += 1
            m["snapshots"][str(m["version"])] = prev + new_files
            m.setdefault("committed_at", {})[str(m["version"])] = time.time()
            self._write_manifest(name, m)

    def _read_files(self, name: str, schema: str, files: list[str]) -> DataFrame:
        data = self._data(name)
        return (
            self.spark.read.schema(schema)
            .option("basePath", data)
            .parquet(*[os.path.join(data, f) for f in files])
        )

    def _hit_files(
        self,
        name: str,
        m: dict,
        files: list[str],
        df: DataFrame,
        merge_key: str | None = None,
    ) -> list[str]:
        """Data files a MERGE must rewrite: partition values intersect
        df's partitions AND (when the table records per-file key stats)
        the file's [min,max] key range overlaps the incoming keys'
        range within that partition. Partition matching is delegated to
        Spark's own partition-path parsing (``input_file_name`` on a
        basePath read) so Hive-style escaping and null markers never
        need reimplementing; the scan touches only footers +
        directory-derived partition columns. Files without recorded
        stats are conservatively hit (legacy commits)."""
        parts = m["partition_by"]
        key = m.get("stats_key")
        # per-file [min,max] ranges are recorded on stats_key, so they
        # can only prove a file disjoint from the incoming rows when the
        # MERGE key is that same column; merging on any other key falls
        # back to partition-only pruning (stats-disjoint files could
        # still hold rows whose merge key collides with incoming rows)
        if merge_key is not None and key != merge_key:
            key = None
        aggs = (
            [F.min(key).alias("__lo"), F.max(key).alias("__hi")]
            if key
            else [F.count(F.lit(1)).alias("__n")]
        )
        bounds = {
            tuple(r[c] for c in parts): (r["__lo"], r["__hi"]) if key else None
            for r in df.groupBy(*parts).agg(*aggs).collect()
        }
        per_file = (
            self._read_files(name, m["schema"], files)
            .select(*parts)
            .withColumn("__file", F.input_file_name())
            .distinct()
            .collect()
        )
        data = os.path.realpath(self._data(name))
        stats = m.get("file_stats", {})
        hit = set()
        for r in per_file:
            pv = tuple(r[c] for c in parts)
            if pv not in bounds:
                continue
            p = r["__file"]
            if p.startswith("file:"):
                p = p[len("file:"):]
            rel = os.path.relpath(os.path.realpath(p), data)
            if key and bounds[pv] is not None and rel in stats:
                lo, hi = stats[rel]
                kmin, kmax = bounds[pv]
                # all-null keys on either side → no range info; fall
                # through to the conservative hit (None compares throw)
                if None not in (lo, hi, kmin, kmax) and (
                    hi < kmin or lo > kmax
                ):  # disjoint key ranges
                    continue
            hit.add(rel)
        return [f for f in files if f in hit]

    def merge_by_key(
        self, name: str, df: DataFrame, key: str, prune: bool = True
    ) -> None:
        """Upsert: incoming rows replace existing rows with equal key.
        The previous snapshot's files stay on disk → time travel.

        Copy-on-write at FILE granularity (Iceberg MERGE shape): only
        data files whose partition values intersect the incoming rows'
        partitions — and, when the table was created with a
        ``stats_key``, whose per-file [min,max] key range overlaps the
        incoming keys' range in that partition — are rewritten; every
        untouched file is carried into the new snapshot by reference.
        At 100 TB a merge touching one partition rewrites the files of
        that partition that can contain the keys, not the table.

        ``prune=True`` assumes a key's partition values are stable
        across upserts (true whenever the partition columns are a
        function of the key, e.g. hash-bucketed url_hash). If a key can
        MOVE between partitions, pass ``prune=False`` to fall back to
        the full-scan anti-join, otherwise the old row in the departed
        partition would survive.
        """
        with self._commit_lock(name):
            m = self._read_manifest(name)
            prev = m["snapshots"][str(m["version"])]
            parts = m["partition_by"]
            # pruning works with partition values, per-file key stats,
            # or both (an unpartitioned table with stats still prunes)
            if prune and prev and (parts or m.get("stats_key") == key):
                hit = self._hit_files(name, m, prev, df, merge_key=key)
                carried = [f for f in prev if f not in set(hit)]
                if hit:
                    survivors = self._read_files(name, m["schema"], hit).join(
                        df.select(key), on=key, how="left_anti"
                    )
                    merged = df.unionByName(survivors)
                else:
                    merged = df
            else:
                carried = []
                current = self.read(name)
                merged = df.unionByName(
                    current.join(df.select(key), on=key, how="left_anti")
                )
            new_files = self._stage_files(
                name, merged, parts, m.get("bucket_by")
            )
            self._record_stats(name, m, new_files)
            m["version"] += 1
            m["snapshots"][str(m["version"])] = sorted(carried) + new_files
            m["last_merge_ts"] = time.time()
            m.setdefault("committed_at", {})[str(m["version"])] = time.time()
            self._write_manifest(name, m)

    def compact(
        self,
        name: str,
        partition_values: dict | None = None,
    ) -> int:
        """Bin-pack small data files (Iceberg rewriteDataFiles): read
        the current snapshot (optionally one partition), rewrite it as
        one file per partition directory, and commit a new snapshot —
        content-identical, fewer files. Untouched partitions carry by
        reference; prior snapshots keep reading their original files
        (time travel unaffected). The crawl's per-epoch appends leave
        one small file per epoch per partition; compaction folds an
        epoch's long tail back into scan-efficient files. Returns the
        new version."""
        with self._commit_lock(name):
            m = self._read_manifest(name)
            prev = m["snapshots"][str(m["version"])]
            parts = m["partition_by"]
            if not prev:
                return m["version"]
            if partition_values:
                prefix_parts = [
                    f"{k}={v}" for k, v in partition_values.items()
                ]

                def in_scope(f: str) -> bool:
                    segs = f.split(os.sep)
                    return all(p in segs for p in prefix_parts)

                scope = [f for f in prev if in_scope(f)]
            else:
                scope = list(prev)
            carried = [f for f in prev if f not in set(scope)]
            if not scope:
                return m["version"]
            current = self._read_files(name, m["schema"], scope)
            if parts:
                # hash-repartition on the partition columns: each
                # partition value lands in exactly one task → ONE file
                # per partition directory (full compaction)
                current = current.repartition(*[F.col(p) for p in parts])
            else:
                current = current.coalesce(1)
            new_files = self._stage_files(
                name, current, parts, m.get("bucket_by")
            )
            self._record_stats(name, m, new_files)
            m["version"] += 1
            m["snapshots"][str(m["version"])] = sorted(carried) + new_files
            m.setdefault("committed_at", {})[str(m["version"])] = time.time()
            self._write_manifest(name, m)
            return m["version"]

    def version(self, name: str) -> int:
        return self._read_manifest(name)["version"]

    def snapshots(self, name: str) -> list[int]:
        return sorted(int(k) for k in self._read_manifest(name)["snapshots"])

    def expire_snapshots(self, name: str, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshots and delete
        data files no retained snapshot references. Returns the expired
        versions. ``keep_last`` must be ≥ 1 — the CURRENT snapshot is
        always retained (Iceberg invariant; expiring it would delete
        the live data and brick the table)."""
        if keep_last < 1:
            raise ValueError(
                f"keep_last must be >= 1 (got {keep_last}): the current "
                "snapshot is always retained"
            )
        # the manifest read→rewrite is itself a commit: without the lock
        # a concurrent append/merge landing in between would be silently
        # erased by this rewrite (lost update — version pointer regresses
        # and the committed files are orphaned)
        with self._commit_lock(name):
            m = self._read_manifest(name)
            versions = sorted(int(k) for k in m["snapshots"])
            expired = versions[:-keep_last]
            retained = versions[len(expired):]
            keep_files = {
                f for v in retained for f in m["snapshots"][str(v)]
            }
            drop_files = {
                f
                for v in expired
                for f in m["snapshots"][str(v)]
                if f not in keep_files
            }
            # manifest swap FIRST (readers stop seeing expired snapshots),
            # then physical deletes — a crash in between leaks files, never
            # corrupts a retained snapshot
            m["snapshots"] = {str(v): m["snapshots"][str(v)] for v in retained}
            if m.get("committed_at"):
                m["committed_at"] = {
                    str(v): m["committed_at"][str(v)]
                    for v in retained
                    if str(v) in m["committed_at"]
                }
            if m.get("file_stats"):
                m["file_stats"] = {
                    f: st for f, st in m["file_stats"].items() if f in keep_files
                }
            self._write_manifest(name, m)
        data = self._data(name)
        for f in drop_files:
            try:
                os.remove(os.path.join(data, f))
            except FileNotFoundError:
                pass
        # bucket views of expired snapshots would otherwise pin the
        # dropped inodes alive through their hardlinks
        for v in expired:
            shutil.rmtree(
                os.path.join(self._dir(name), f"_bucketview_v{v}"),
                ignore_errors=True,
            )
        return expired

    # -- schema evolution (metadata-only commits) --------------------------
    def _schema_for_version(self, m: dict, version: int) -> str:
        """Per-snapshot schema (Iceberg reads a snapshot with the
        schema it was committed under): the newest schema entry at or
        below ``version``; tables predating evolution fall back to the
        manifest's base schema."""
        hist = m.get("schema_at", {})
        eligible = [int(v) for v in hist if int(v) <= version]
        return hist[str(max(eligible))] if eligible else m["schema"]

    def add_column(self, name: str, column_ddl: str) -> None:
        """ADD COLUMN as a metadata-only commit (Iceberg schema
        evolution): no data file is touched; existing rows read the
        new column as NULL (parquet schema projection), new writes
        carry it. Snapshots before the change keep reading with their
        own schema (time travel is schema-faithful)."""
        from pyspark.sql.types import StructType

        with self._commit_lock(name):
            m = self._read_manifest(name)
            new_field = StructType.fromDDL(column_ddl)
            current = StructType.fromDDL(m["schema"])
            for f in new_field.fields:
                if f.name in current.fieldNames():
                    raise ValueError(f"column {f.name!r} already exists")
            hist = m.setdefault("schema_at", {})
            hist.setdefault(str(m["version"]), m["schema"])
            m["schema"] = m["schema"] + ", " + column_ddl
            m["version"] += 1
            m["snapshots"][str(m["version"])] = list(
                m["snapshots"][str(m["version"] - 1)]
            )
            hist[str(m["version"])] = m["schema"]
            m.setdefault("committed_at", {})[str(m["version"])] = time.time()
            self._write_manifest(name, m)

    def drop_column(self, name: str, column: str) -> None:
        """DROP COLUMN as a metadata-only commit: the data files still
        carry the bytes (Iceberg semantics — dropped columns are
        projection, not rewrite); current reads no longer see it,
        pre-drop snapshots still do."""
        from pyspark.sql.types import StructType

        with self._commit_lock(name):
            m = self._read_manifest(name)
            current = StructType.fromDDL(m["schema"])
            if column not in current.fieldNames():
                raise ValueError(f"no column {column!r}")
            if column in m["partition_by"] or column == m.get("stats_key"):
                raise ValueError(
                    f"column {column!r} is load-bearing (partition or "
                    "stats key)"
                )
            kept = [f for f in current.fields if f.name != column]
            hist = m.setdefault("schema_at", {})
            hist.setdefault(str(m["version"]), m["schema"])
            m["schema"] = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in kept
            )
            m["version"] += 1
            m["snapshots"][str(m["version"])] = list(
                m["snapshots"][str(m["version"] - 1)]
            )
            hist[str(m["version"])] = m["schema"]
            m.setdefault("committed_at", {})[str(m["version"])] = time.time()
            self._write_manifest(name, m)

    # -- DELETE (copy-on-write) --------------------------------------------
    def delete_where(self, name: str, predicate: str) -> int:
        """DELETE FROM ... WHERE as Iceberg copy-on-write: only data
        files that CONTAIN a matching row are rewritten (without those
        rows); every untouched file is carried into the new snapshot
        by reference. Previous snapshots keep the deleted rows (time
        travel). Returns the number of rows deleted."""
        with self._commit_lock(name):
            m = self._read_manifest(name)
            prev = m["snapshots"][str(m["version"])]
            if not prev:
                return 0
            data = os.path.realpath(self._data(name))
            src = self._read_files(name, m["schema"], prev)
            hit_rows = (
                src.where(predicate)
                .groupBy(F.input_file_name().alias("__file"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            if not hit_rows:
                return 0
            deleted = sum(r["n"] for r in hit_rows)
            hit = set()
            for r in hit_rows:
                p = r["__file"]
                if p.startswith("file:"):
                    p = p[len("file:"):]
                hit.add(os.path.relpath(os.path.realpath(p), data))
            carried = [f for f in prev if f not in hit]
            survivors = self._read_files(
                name, m["schema"], [f for f in prev if f in hit]
            ).where(f"NOT ({predicate}) OR ({predicate}) IS NULL")
            new_files = self._stage_files(
                name, survivors, m["partition_by"], m.get("bucket_by")
            )
            self._record_stats(name, m, new_files)
            m["version"] += 1
            m["snapshots"][str(m["version"])] = sorted(carried) + new_files
            m.setdefault("committed_at", {})[str(m["version"])] = time.time()
            self._write_manifest(name, m)
            return deleted

